package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/**
 * Event-time windowing over the `events` table — the batch formulations of
 * the streaming shapes (SURVEY.md §2.3 "Streaming": entirely absent in the
 * reference, [EXT] here). Batch keeps every query DuckDB-oracle-able; the
 * same plans run under Structured Streaming (see graft.streaming) with
 * `readStream` + watermarks.
 *
 * Scale: all three queries partition by (window/user), i.e. one hash
 * exchange each; sessionization's window functions run on a
 * (user_id)-partitioned sort, which AQE can skew-split if one user is hot.
 */
object Events {

  /** Tumbling 1-hour windows per event type: count, exact value sum,
    * distinct users. Window start is emitted as a string for exact
    * cross-engine comparison. */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           dsum(col("value")).as("sum_value"),
           countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
              col("event_type"), col("n_events"), col("sum_value"), col("n_users"))

  val eventsHourlySql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS win_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding windows (1 h wide, 30 min slide): each event lands in exactly
    * two windows. Spark's `window()` generator vs. explicit integer epoch
    * arithmetic in the oracle — both align windows to the UTC epoch. */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("win_start"),
              col("event_type"), col("n_events"))

  val eventsSlidingSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS eus, event_type FROM events),
      |w AS (SELECT unnest([eus - (eus % 1800000000),
      |                     eus - (eus % 1800000000) - 1800000000]) AS win_us,
      |             event_type
      |      FROM e)
      |SELECT strftime(make_timestamp(win_us), '%Y-%m-%d %H:%M') AS win_start,
      |       event_type, COUNT(*) AS n_events
      |FROM w GROUP BY 1, 2""".stripMargin

  /** Funnel: view → click-after-view → purchase-after-click per user.
    * Three conditional-min aggregates chained by broadcastable per-user
    * tables (each stage is one hash agg + one join on user_id — at scale
    * the per-user stage tables are tiny relative to the event log). */
  def eventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts_us") >= col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_click"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts_us") >= col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_purchase"))
    v.select(lit("1_view").as("stage"), col("user_id"))
      .union(c.select(lit("2_click").as("stage"), col("user_id")))
      .union(p.select(lit("3_purchase").as("stage"), col("user_id")))
      .groupBy(col("stage")).agg(countDistinct(col("user_id")).as("n_users"))
  }

  val eventsFunnelSql: String =
    """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, MIN(ts_us) AS t_view FROM ev
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT ev.user_id, MIN(ts_us) AS t_click FROM ev JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_us >= t_view GROUP BY 1),
      |p AS (SELECT ev.user_id, MIN(ts_us) AS t_purchase FROM ev JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us >= t_click GROUP BY 1),
      |s AS (SELECT '1_view' AS stage, user_id FROM v
      |      UNION ALL SELECT '2_click', user_id FROM c
      |      UNION ALL SELECT '3_purchase', user_id FROM p)
      |SELECT stage, COUNT(DISTINCT user_id) AS n_users FROM s GROUP BY 1""".stripMargin

  /** Cohort retention: users grouped by first-active ISO week; per cohort,
    * size and average number of distinct active weeks. */
  def eventsCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"),
              date_format(date_trunc("week", col("ts")), "yyyy-MM-dd").as("week"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"),
           countDistinct(col("week")).as("active_weeks"))
    perUser.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"),
           (sum(col("active_weeks")).cast("double") / count(lit(1))).as("avg_active_weeks"))
  }

  val eventsCohortsSql: String =
    """WITH ev AS (
      |  SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week
      |  FROM events),
      |pu AS (
      |  SELECT user_id, MIN(week) AS cohort_week,
      |         COUNT(DISTINCT week) AS active_weeks
      |  FROM ev GROUP BY 1)
      |SELECT cohort_week, COUNT(*) AS n_users,
      |       CAST(SUM(active_weeks) AS DOUBLE) / COUNT(*) AS avg_active_weeks
      |FROM pu GROUP BY 1""".stripMargin

  /**
   * Sessionization: split each user's event stream on >30 min inactivity
   * gaps (the classic lag + cumulative-flag-sum formulation — runs on one
   * sort within the (user_id) hash partition). Durations in exact
   * microseconds; values summed as exact decimal.
   */
  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byTs)
    events(spark, dir)
      .withColumn("is_new", when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1).otherwise(0))
      .withColumn("session_no",
        sum(col("is_new")).over(byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
           (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("duration_us"),
           dsum(col("value")).as("sum_value"))
  }

  val eventsSessionizeSql: String =
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
      |  FROM g)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
      |  COUNT(*) AS n_events,
      |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_no""".stripMargin

  /**
   * SCD2 interval construction [EXT] — the slowly-changing-dimension
   * pass every warehouse ingest runs on a change stream: collapse each
   * user's event sequence to its TYPE-CHANGE points and emit versioned
   * validity intervals `[valid_from, valid_to)` with an `is_current`
   * flag (valid_to = the next change's start; NULL on the open current
   * row). Consecutive same-type events collapse into one interval —
   * the "state history" table that downstream as-of joins consume.
   *
   * Scale shape: one window per user partition (never global), sorted
   * once — the change filter, the lead(), and the version row_number all
   * share the same (user_id | ts, event_id) sort, so Spark plans a
   * single exchange + sort. Timestamps surface as exact epoch
   * microseconds, the family's cross-engine convention.
   */
  def eventsScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
      .withColumn("version", row_number().over(w))
      .select(col("user_id"), col("version"), col("event_type").as("state"),
              unix_micros(col("ts")).as("valid_from_us"), col("valid_to_us"),
              col("valid_to_us").isNull.as("is_current"))
  }

  /** Oracle: identical change-point filter and windowed interval build. */
  val eventsScd2Sql: String =
    """WITH m AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev
      |  FROM events),
      |s AS (
      |  SELECT user_id, ts, event_id, event_type FROM m
      |  WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS INT) AS version,
      |  event_type AS state,
      |  epoch_us(ts) AS valid_from_us,
      |  lead(epoch_us(ts), 1) OVER w AS valid_to_us,
      |  lead(epoch_us(ts), 1) OVER w IS NULL AS is_current
      |FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  /**
   * Time-series gap filling: the dense (event_type × hour) grid over the
   * corpus' span, with missing buckets zero-filled — the regularization
   * step before feeding counts to a sequence model. The grid is built
   * with `sequence` + `explode` from ONE tiny bounds row crossed with the
   * distinct types (grid size is span-dependent, not corpus-dependent),
   * then a left join pulls in the sparse observed counts; at 100 TB the
   * observed aggregate is the only large input and the grid side stays
   * broadcast-sized.
   */
  def eventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"),
                               expr("INTERVAL 1 HOUR"))).as("h"))
      // types come from the tiny hourly aggregate (a type appears there
      // iff it has any event) — not from a second full-corpus scan;
      // explicit broadcast() so the plan never depends on AQE estimation
      .crossJoin(broadcast(hourly.select(col("event_type")).distinct()))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"),
              date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
              coalesce(col("n"), lit(0L)).as("n_events"))
  }

  val eventsGapfillSql: String =
    """WITH hourly AS (
      |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
      |grid AS (
      |  SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
      |types AS (SELECT DISTINCT event_type FROM events)
      |SELECT t.event_type, strftime(g.h, '%Y-%m-%d %H:%M') AS hour,
      |       COALESCE(n, 0) AS n_events
      |FROM grid g CROSS JOIN types t
      |LEFT JOIN hourly ON hourly.event_type = t.event_type AND hourly.h = g.h""".stripMargin

  /**
   * Per-user value outliers by z-score, with every moment kept in exact
   * integer cents until the final division: z = (x·n − Σx) / √(n·Σx² −
   * (Σx)²) — numerator and radicand are exact longs (bounds here: cents ≤
   * 6e4, n ≤ 100 per user, so n·Σx² ≤ ~4e13; a corpus with 1e6-row users
   * would move the moments to decimal), sqrt and one division are
   * deterministic IEEE, and z is rounded to 9 decimals before the output
   * threshold. Degenerate groups (n ≤ 1 or zero variance) are excluded
   * in both engines.
   *
   * Scale: one partial-aggregated moments pass (O(users) rows out) and a
   * users-sized join back — the textbook two-pass standardization.
   */
  def eventsOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"),
              (dec(col("value")) * 100).cast("long").as("cents"))
    val stats = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
           sum(col("cents") * col("cents")).as("s2"))
    val varN2 = col("n") * col("s2") - col("s") * col("s") // n²·σ², exact
    ev.join(stats, "user_id")
      .filter(col("n") > 1 && varN2 > 0)
      .withColumn("z", round((col("cents") * col("n") - col("s")).cast("double")
                               / sqrt(varN2.cast("double")), 9))
      .filter(abs(col("z")) > 2)
      .select(col("user_id"), col("event_id"), col("cents"), col("n"), col("z"))
  }

  val eventsOutliersSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |st AS (
      |  SELECT user_id, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s,
      |         CAST(SUM(cents * cents) AS BIGINT) AS s2
      |  FROM c GROUP BY 1),
      |z AS (
      |  SELECT c.user_id, event_id, cents, n,
      |         round(CAST(cents * n - s AS DOUBLE)
      |                 / sqrt(CAST(n * s2 - s * s AS DOUBLE)), 9) AS z
      |  FROM c JOIN st ON c.user_id = st.user_id
      |  WHERE n > 1 AND n * s2 - s * s > 0)
      |SELECT user_id, event_id, cents, n, z FROM z WHERE abs(z) > 2""".stripMargin

  /**
   * Robust outliers via median absolute deviation [EXT] — the
   * heavy-tail-safe sibling of [[eventsOutliers]]' z-score: per user,
   * events more than 3 MADs from the median. Mean/stddev break when the
   * contamination itself inflates them; median/MAD don't. Two passes
   * over the cents integers (median, then median of absolute
   * deviations), both exact sort-based percentiles on integers whose
   * interpolation lands on halves — bit-identical across engines (the
   * agg_percentiles precedent). Both aggregates and the join key on
   * user_id, so the same hash partitioning serves all three steps.
   */
  def eventsMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    // Window-median form (r17): ONE exchange on user_id, two
    // partition-local sorts, ZERO joins, no lineage cut, and — the
    // point — no exact-percentile UDAF. The previous form (explicit
    // repartition + cut, percentile(x, 0.5) twice, two co-partitioned
    // joins back) paid Spark's percentile ObjectHashAggregate, which
    // buffers a value->count map per user — the same per-group object
    // state the shingle rewrite retired; interleaved A/B at sf1: window
    // form 0.61 s vs 1.46 s. The continuous median is instead
    // avg(values at 1-based positions floor/ceil((n+1)/2)) over each
    // user's sorted run — bit-identical to percentile(x, 0.5) here
    // because cents (and the 0.5-granular absolute deviations) are
    // exactly representable doubles far below 2^52, so both
    // interpolation forms are exact IEEE arithmetic. Row_number ties on
    // equal values cannot change the median value. 100 TB: the sorts are
    // partition-local behind one hash exchange; WindowExec streams each
    // user's run with O(run) state, no executor-wide maps.
    val byUser = Window.partitionBy(col("user_id"))
    val c = events(spark, dir)
      .select(col("user_id"), col("event_id"),
              (dec(col("value")) * 100).cast("long").as("cents"))
    def medOf(v: Column,
              ordered: org.apache.spark.sql.expressions.WindowSpec): Column = {
      val rn = row_number().over(ordered)
      val n = count(lit(1)).over(byUser)
      // integer halves: Column./ is ALWAYS double division, which made
      // rn === (n+1)/2 silently miss the lower middle row for even n
      avg(when(rn === shiftright(n + 1, 1) || rn === shiftright(n + 2, 1), v))
        .over(byUser)
    }
    c.withColumn("med", medOf(col("cents"), byUser.orderBy(col("cents"))))
      .withColumn("adev", abs(col("cents").cast("double") - col("med")))
      .withColumn("mad", medOf(col("adev"), byUser.orderBy(col("adev"))))
      .filter(col("adev") > lit(3.0) * col("mad"))
      .select(col("user_id"), col("event_id"), col("cents"),
              col("med"), col("mad"))
  }

  val eventsMadOutliersSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |med AS (
      |  SELECT user_id, quantile_cont(cents, 0.5) AS med FROM c GROUP BY 1),
      |dev AS (
      |  SELECT c.user_id, event_id, cents, med,
      |         abs(CAST(cents AS DOUBLE) - med) AS adev
      |  FROM c JOIN med ON c.user_id = med.user_id),
      |mad AS (
      |  SELECT user_id, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT dev.user_id, event_id, cents, med, mad.mad AS mad
      |FROM dev JOIN mad ON dev.user_id = mad.user_id
      |WHERE adev > 3.0 * mad.mad""".stripMargin

  /**
   * Event-type transition matrix [EXT] — first-order Markov counts over
   * each user's event stream: for every (from, to) event-type pair, the
   * transition count and row-normalized probability in integer per-mille.
   * The lag runs inside the per-user sort the sessionizer already uses
   * (one hash exchange on user_id, one intra-partition sort); the
   * transition aggregate is O(\|types\|²) rows, and the row normalizer
   * joins back broadcast. Pure integer output — no float drift possible.
   */
  def eventsTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = events(spark, dir)
      .select(col("user_id"), col("event_type").as("to_type"),
              lag(col("event_type"), 1).over(byTs).as("from_type"))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("from_type")).agg(sum(col("n")).as("row_n"))
    trans.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
              expr("n * 1000 div row_n").as("p_pm"))
  }

  val eventsTransitionsSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type AS to_type,
      |         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type
      |  FROM events),
      |trans AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n FROM trans GROUP BY 1)
      |SELECT t.from_type, t.to_type, n, n * 1000 // row_n AS p_pm
      |FROM trans t JOIN tot USING (from_type)""".stripMargin

  /**
   * RFM segmentation [EXT]: per-user recency / frequency / monetary
   * metrics, each bucketed 1–4 against the user population's exact
   * quartiles, concatenated into the classic segment code. Metrics are
   * exact (day diff on date-cast timestamps, count, decimal money); the
   * three quartile thresholds per metric are ONE one-row aggregate
   * broadcast back — not an ntile window, which would globally sort
   * every user through one reducer. (At 100 TB the thresholds would come
   * from an approximate quantile sketch; the bucketing dataflow — scalar
   * broadcast + CASE — is identical, and here exactness is what lets
   * DuckDB reproduce the result bit-for-bit.) Boundary ties resolve by
   * >= against the threshold in both engines.
   */
  def eventsRfm(spark: SparkSession, dir: String): DataFrame = {
    val ref = lit("2024-02-01").cast("date")
    val perUser = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(datediff(ref, max(col("ts")).cast("date")).cast("long").as("recency_days"),
           count(lit(1)).as("frequency"),
           dsum(col("value")).as("monetary"))
    val qs = perUser.agg(
      percentile(col("recency_days"), lit(0.25)).as("r25"),
      percentile(col("recency_days"), lit(0.5)).as("r50"),
      percentile(col("recency_days"), lit(0.75)).as("r75"),
      percentile(col("frequency"), lit(0.25)).as("f25"),
      percentile(col("frequency"), lit(0.5)).as("f50"),
      percentile(col("frequency"), lit(0.75)).as("f75"),
      percentile(col("monetary"), lit(0.25)).as("m25"),
      percentile(col("monetary"), lit(0.5)).as("m50"),
      percentile(col("monetary"), lit(0.75)).as("m75"))
    // recency: LOWER is better (score 4 = most recent quartile)
    def bucketDesc(v: Column, q25: Column, q50: Column, q75: Column): Column =
      when(v.cast("double") >= q75, 1).when(v.cast("double") >= q50, 2)
        .when(v.cast("double") >= q25, 3).otherwise(4)
    def bucketAsc(v: Column, q25: Column, q50: Column, q75: Column): Column =
      when(v.cast("double") >= q75, 4).when(v.cast("double") >= q50, 3)
        .when(v.cast("double") >= q25, 2).otherwise(1)
    perUser.crossJoin(broadcast(qs))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
              bucketDesc(col("recency_days"), col("r25"), col("r50"), col("r75")).as("r_score"),
              bucketAsc(col("frequency"), col("f25"), col("f50"), col("f75")).as("f_score"),
              bucketAsc(col("monetary"), col("m25"), col("m50"), col("m75")).as("m_score"))
      .withColumn("segment",
        concat(lit("R"), col("r_score"), lit("F"), col("f_score"), lit("M"), col("m_score")))
  }

  val eventsRfmSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |         date_diff('day', CAST(MAX(ts) AS DATE), DATE '2024-02-01') AS recency_days,
      |         COUNT(*) AS frequency,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM events GROUP BY 1),
      |qs AS (
      |  SELECT quantile_cont(recency_days, 0.25) AS r25, quantile_cont(recency_days, 0.5) AS r50,
      |         quantile_cont(recency_days, 0.75) AS r75,
      |         quantile_cont(frequency, 0.25) AS f25, quantile_cont(frequency, 0.5) AS f50,
      |         quantile_cont(frequency, 0.75) AS f75,
      |         quantile_cont(monetary, 0.25) AS m25, quantile_cont(monetary, 0.5) AS m50,
      |         quantile_cont(monetary, 0.75) AS m75
      |  FROM pu),
      |sc AS (
      |  SELECT user_id, recency_days, frequency, monetary,
      |    CASE WHEN CAST(recency_days AS DOUBLE) >= r75 THEN 1
      |         WHEN CAST(recency_days AS DOUBLE) >= r50 THEN 2
      |         WHEN CAST(recency_days AS DOUBLE) >= r25 THEN 3 ELSE 4 END AS r_score,
      |    CASE WHEN CAST(frequency AS DOUBLE) >= f75 THEN 4
      |         WHEN CAST(frequency AS DOUBLE) >= f50 THEN 3
      |         WHEN CAST(frequency AS DOUBLE) >= f25 THEN 2 ELSE 1 END AS f_score,
      |    CASE WHEN monetary >= m75 THEN 4
      |         WHEN monetary >= m50 THEN 3
      |         WHEN monetary >= m25 THEN 2 ELSE 1 END AS m_score
      |  FROM pu CROSS JOIN qs)
      |SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days, frequency, monetary,
      |       r_score, f_score, m_score,
      |       'R' || r_score || 'F' || f_score || 'M' || m_score AS segment
      |FROM sc""".stripMargin

  /**
   * Cohort retention triangle [EXT]: users grouped by first-active day;
   * for each (cohort, days-since-cohort) cell, the distinct users active
   * that day, the cohort size, and retention in integer per-mille
   * (doubles never enter — the cell is pure integer arithmetic). Day
   * granularity because the corpus spans one month; the week/month
   * variants differ only in the date_trunc unit.
   *
   * Scale shape: the (user, day) activity grid is pre-deduped in one
   * exchange (distinct carries 16 bytes/row); first-activity and the
   * activity join both key on user_id — the same partitioning reused
   * across the user-keyed steps — and the final cell aggregate is
   * O(cohorts × horizon) rows with the size table broadcast back.
   */
  def eventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val sizes = first.groupBy(col("cohort_day")).agg(count(lit(1)).as("cohort_size"))
    ev.join(first, "user_id")
      .withColumn("days_since", expr("CAST(datediff(day, cohort_day) AS BIGINT)"))
      .groupBy(col("cohort_day"), col("days_since"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
              col("days_since"), col("n_active"), col("cohort_size"),
              expr("n_active * 1000 div cohort_size").as("retention_pm"))
  }

  val eventsRetentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |fst AS (SELECT user_id, MIN(day) AS cohort_day FROM ev GROUP BY 1),
      |sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM fst GROUP BY 1),
      |act AS (
      |  SELECT f.cohort_day,
      |         date_diff('day', f.cohort_day, e.day) AS days_since,
      |         COUNT(DISTINCT e.user_id) AS n_active
      |  FROM ev e JOIN fst f USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT strftime(a.cohort_day, '%Y-%m-%d') AS cohort_day,
      |       CAST(days_since AS BIGINT) AS days_since,
      |       n_active, cohort_size,
      |       n_active * 1000 // cohort_size AS retention_pm
      |FROM act a JOIN sizes s ON s.cohort_day = a.cohort_day""".stripMargin

  // ------------------------------------------------------ attribution

  /** Attribution lookback window (7 days, in micros). */
  private val AttribWindowUs = 7L * 24 * 3600 * 1000000L

  /**
   * Last-touch marketing attribution [EXT]: every purchase is credited
   * to the same user's most recent click-or-view at-or-before it within
   * a 7-day lookback, then revenue rolls up by credited channel
   * ('none' = no touch in window). The match IS an as-of join —
   * implemented on [[JoinsExt.asofJoin]], the same union+window
   * machinery the native as-of operator twins, now with a multi-type
   * touch side, a staleness cutoff, and a business aggregate on top.
   *
   * Scale shape: one user-keyed window pass over the union (the as-of
   * idiom — no per-conversion probe join), then a channel-keyed rollup
   * of ≤ |conversions| rows. Gap sums are exact integer micros; revenue
   * crosses the decimal bridge; the one mean is a single deterministic
   * division per output row.
   */
  def eventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
              unix_micros(col("ts")).as("ts_us"))
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("value"), col("ts_us"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts_us"), col("event_type").as("channel"),
              col("event_id").as("touch_id"), col("ts_us").as("touch_ts_us"))
    val att = JoinsExt.asofJoin(conv, touches, "user_id", "ts_us",
        payload = Seq("channel", "touch_id", "touch_ts_us"), rightOrd = "touch_id")
      .withColumn("attributed",
        col("asof_channel").isNotNull &&
          (col("ts_us") - col("asof_touch_ts_us")) <= AttribWindowUs)
      .withColumn("att_channel",
        when(col("attributed"), col("asof_channel")).otherwise(lit("none")))
    att.groupBy(col("att_channel"))
      .agg(count(lit(1)).as("n_conversions"),
           dsum(col("value")).as("revenue"),
           coalesce(sum(when(col("attributed"), col("ts_us") - col("asof_touch_ts_us"))),
                    lit(0L)).as("sum_gap_us"))
      .select(col("att_channel"), col("n_conversions"), col("revenue"), col("sum_gap_us"),
        round(col("sum_gap_us").cast("double")
          / (col("n_conversions") * 60000000L).cast("double"), 6).as("mean_gap_min"))
  }

  val eventsAttributionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
       |  FROM events WHERE event_type IN ('purchase', 'click', 'view')),
       |u AS (
       |  SELECT user_id, ts_us,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS src,
       |    CASE WHEN event_type <> 'purchase' THEN event_id ELSE 0 END AS ord,
       |    CASE WHEN event_type = 'purchase' THEN event_id END AS conv_id,
       |    CASE WHEN event_type = 'purchase' THEN value END AS cval,
       |    CASE WHEN event_type <> 'purchase' THEN event_type END AS channel,
       |    CASE WHEN event_type <> 'purchase' THEN ts_us END AS touch_ts
       |  FROM e),
       |m AS (
       |  SELECT user_id, ts_us, src, conv_id, cval,
       |    last_value(channel IGNORE NULLS) OVER w AS lc,
       |    last_value(touch_ts IGNORE NULLS) OVER w AS lt
       |  FROM u
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, src, ord
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |a AS (
       |  SELECT conv_id, cval,
       |    CASE WHEN lc IS NOT NULL AND ts_us - lt <= $AttribWindowUs
       |         THEN lc ELSE 'none' END AS att_channel,
       |    CASE WHEN lc IS NOT NULL AND ts_us - lt <= $AttribWindowUs
       |         THEN ts_us - lt END AS gap_us
       |  FROM m WHERE src = 1)
       |SELECT att_channel,
       |  CAST(COUNT(*) AS BIGINT) AS n_conversions,
       |  CAST(SUM(CAST(cval AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       |  CAST(coalesce(SUM(gap_us), 0) AS BIGINT) AS sum_gap_us,
       |  round(CAST(coalesce(SUM(gap_us), 0) AS DOUBLE)
       |        / CAST(COUNT(*) * 60000000 AS DOUBLE), 6) AS mean_gap_min
       |FROM a GROUP BY 1""".stripMargin

  // ------------------------------------------------------- path mining

  /** Result cut of the path top-k. */
  private val PathTopK = 20

  /**
   * Top navigation paths [EXT]: the most frequent length-3
   * event-type sequences across user streams — the "what do users do
   * next" product-analytics staple. Each user's events are ordered by
   * (ts, event_id) and every consecutive trigram counts once; output is
   * the global top-[[PathTopK]] with occurrence and distinct-user
   * counts.
   *
   * Scale shape: one user-keyed window (two lead()s — no
   * collect_list of a user's whole history), one path-keyed aggregate
   * whose key domain is |event_types|^3 (tiny), and a
   * TakeOrderedAndProject cut. Total order (count DESC, path ASC) makes
   * the cut deterministic under ties in both engines.
   */
  def eventsPathTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .select(col("user_id"),
              concat_ws(">", col("event_type"), col("t2"), col("t3")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_occurrences"),
           countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("n_occurrences").desc, col("path").asc)
      .limit(PathTopK)
  }

  val eventsPathTopkSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
       |tri AS (
       |  SELECT user_id,
       |    event_type || '>' || lead(event_type, 1) OVER w
       |               || '>' || lead(event_type, 2) OVER w AS path,
       |    lead(event_type, 2) OVER w AS t3
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
       |SELECT path,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
       |FROM tri WHERE t3 IS NOT NULL
       |GROUP BY 1
       |ORDER BY n_occurrences DESC, path ASC LIMIT $PathTopK""".stripMargin

  // --------------------------------------------------- CUSUM change-point

  /** CUSUM slack (k = μ/4) and alarm threshold (h = 4μ), both in the
    * per-mille units of the integer series. */
  private val CusumSlackDiv = 4L
  private val CusumThreshMul = 4L

  /**
   * CUSUM change-point detection [EXT] (Page 1954 — the standard
   * upstream-pipeline monitor for "did the event rate shift?"): per
   * event_type, the one-sided CUSUM over the zero-filled hourly count
   * series, S_t = max(0, S_{t−1} + x_t − μ − k), with an alarm when
   * S_t > h.
   *
   * The recurrence LOOKS sequential (each S_t depends on S_{t−1} — the
   * shape that normally does not distribute), but it has a closed
   * prefix-scan form: S_t = P_t − min(0, min_{j≤t} P_j) where
   * P = Σ(x − μ − k). That turns the whole detector into ONE window
   * cumulative sum plus ONE window running-min per series — the same
   * two-pass trick as maximum drawdown — so it parallelizes like any
   * windowed aggregate. All arithmetic is integer per-mille (μ is an
   * integer division of exact counts); no float ever enters.
   */
  /** Zero-filled hourly count series per event type — shared input of the
    * [[eventsCusum]] and [[eventsEwma]] monitors. */
  private def hourlySeries(spark: SparkSession, dir: String): DataFrame = {
    val hourly = events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val grid = hourly.agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR"))).as("h"))
      .crossJoin(broadcast(hourly.select(col("event_type")).distinct()))
    grid.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"), coalesce(col("n"), lit(0L)).as("x"))
  }

  def eventsCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val series = hourlySeries(spark, dir)
    val stats = series.groupBy(col("event_type"))
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
      .select(col("event_type"), expr("(sx * 1000) div cnt").as("mu_pm"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = series.join(broadcast(stats), "event_type")
      .withColumn("d", col("x") * 1000L - col("mu_pm") - expr(s"mu_pm div $CusumSlackDiv"))
      .withColumn("p", sum(col("d")).over(wCum))
      .withColumn("s", col("p") - least(lit(0L), min(col("p")).over(wCum)))
    scored.select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
        col("x").as("n_events"), col("mu_pm"), col("s").as("cusum_pm"),
        (col("s") > col("mu_pm") * CusumThreshMul).as("alarm"))
  }

  val eventsCusumSql: String =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
       |grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
       |types AS (SELECT DISTINCT event_type FROM hourly),
       |series AS (
       |  SELECT t.event_type, g.h, COALESCE(hourly.n, 0) AS x
       |  FROM grid g CROSS JOIN types t
       |  LEFT JOIN hourly ON hourly.event_type = t.event_type AND hourly.h = g.h),
       |stats AS (
       |  SELECT event_type, CAST(SUM(x) * 1000 // COUNT(*) AS BIGINT) AS mu_pm
       |  FROM series GROUP BY 1),
       |d AS (
       |  SELECT s.event_type, s.h, s.x, st.mu_pm,
       |         s.x * 1000 - st.mu_pm - st.mu_pm // $CusumSlackDiv AS d
       |  FROM series s JOIN stats st USING (event_type)),
       |p AS (
       |  SELECT event_type, h, x, mu_pm,
       |         SUM(d) OVER w AS p
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY h
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |s AS (
       |  SELECT event_type, h, x, mu_pm,
       |         p - LEAST(0, MIN(p) OVER (PARTITION BY event_type ORDER BY h
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
       |  FROM p)
       |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour,
       |       CAST(x AS BIGINT) AS n_events, mu_pm,
       |       CAST(s AS BIGINT) AS cusum_pm,
       |       s > mu_pm * $CusumThreshMul AS alarm
       |FROM s""".stripMargin

  // ------------------------------------------------------ EWMA smoothing

  /** FIR window width (hours) and the per-lag integer weights: a 6-hour
    * half-life truncated at 12 taps, w_i = round(2^(−i/6)·1000). */
  private val EwmaTaps = 12
  private val EwmaWeights: Seq[Long] =
    (0 until EwmaTaps).map(i => math.round(math.pow(2.0, -i / 6.0) * 1000))

  /**
   * Exponentially-weighted moving average [EXT] as a finite-impulse-
   * response window — the smoothed-rate monitor next to [[eventsCusum]]'s
   * change-point detector. True EWMA is the sequential recurrence
   * s_t = α·x_t + (1−α)·s_{t−1}; its tail decays geometrically, so the
   * 12-tap truncation (< 1/4 of a unit of weight dropped at a 6-hour
   * half-life) is the standard distributed form: every output is an
   * independent weighted dot product over its own 12-hour frame — 12
   * `lag()`s over ONE window pass, embarrassingly parallel per series.
   *
   * Determinism: integer weights × integer counts summed exactly;
   * the single normalization is one exact integer division per row
   * (per-mille). No float ever enters.
   */
  def eventsEwma(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val terms = EwmaWeights.zipWithIndex.map { case (wt, i) =>
      coalesce(lag(col("x"), i).over(w), lit(0L)) * wt
    }
    val wsum = EwmaWeights.sum
    hourlySeries(spark, dir)
      .withColumn("ewma_fp", terms.reduce(_ + _))
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm").as("hour"),
        col("x").as("n_events"), col("ewma_fp"),
        expr(s"(ewma_fp * 1000) div ($wsum)").as("smoothed_pm"))
  }

  val eventsEwmaSql: String = {
    val terms = EwmaWeights.zipWithIndex.map { case (wt, i) =>
      s"COALESCE(lag(x, $i) OVER w, 0) * $wt"
    }.mkString(" + ")
    val wsum = EwmaWeights.sum
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2),
       |b AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
       |grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
       |types AS (SELECT DISTINCT event_type FROM hourly),
       |series AS (
       |  SELECT t.event_type, g.h, COALESCE(hourly.n, 0) AS x
       |  FROM grid g CROSS JOIN types t
       |  LEFT JOIN hourly ON hourly.event_type = t.event_type AND hourly.h = g.h),
       |e AS (
       |  SELECT event_type, h, x, $terms AS ewma_fp
       |  FROM series
       |  WINDOW w AS (PARTITION BY event_type ORDER BY h))
       |SELECT event_type, strftime(h, '%Y-%m-%d %H:%M') AS hour,
       |       CAST(x AS BIGINT) AS n_events,
       |       CAST(ewma_fp AS BIGINT) AS ewma_fp,
       |       CAST((ewma_fp * 1000) // $wsum AS BIGINT) AS smoothed_pm
       |FROM e""".stripMargin
  }

  // ------------------------------------------------------------ events_trend

  /**
   * Per-type traffic trend [EXT]: the exact least-squares line over each
   * event type's observed hourly counts — the "is this stream growing or
   * decaying" fit a monitoring pipeline runs next to its anomaly gates.
   *
   * All four moments (Σx, Σy, Σx², Σxy) are exact BIGINT sums over the
   * (type, hour) pre-aggregate, so slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
   * and the intercept are each ONE double division from
   * order-independent integers — bit-identical cross-engine, no float
   * accumulation anywhere. x is rebased to hours-since-first-seen per
   * type (one window MIN over the already-collapsed hourly table) so the
   * moments stay small and the intercept means "fitted count at first
   * hour". The `rising` verdict is the exact integer sign of the slope
   * numerator. Observed hours only: an absent hour is a missing sample,
   * not a zero (the zero-filled variant is one `events_gapfill`
   * composition away).
   *
   * Scale shape: one count aggregate collapses the corpus to
   * (type, hour) rows; the window and the moment aggregate run on that
   * collapsed table — shuffles carry hourly counts, never events.
   */
  def eventsTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events(spark, dir)
      // Spark `div` truncates toward zero while DuckDB `//` floors, but
      // after date_trunc('hour') the micros are an EXACT multiple of
      // 3 600 000 000, where truncation == floor — the idiom is exact on
      // both engines for any epoch sign, pre-1970 included
      .select(col("event_type"),
              expr("unix_micros(date_trunc('hour', ts)) div 3600000000")
                .as("hnum"))
      .groupBy(col("event_type"), col("hnum"))
      .agg(count(lit(1)).as("y"))
    val based = hourly.withColumn("x",
      col("hnum") - min(col("hnum")).over(Window.partitionBy(col("event_type"))))
    based.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
           sum(col("x")).as("sx"), sum(col("y")).as("sy"),
           sum(col("x") * col("x")).as("sxx"),
           sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n_points"), col("sy").as("n_events"),
        (col("n_points") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
        (col("n_points") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icept_num"))
      .select(col("event_type"), col("n_points"), col("n_events"),
        col("slope_num"), col("slope_den"),
        when(col("slope_den") =!= 0,
             col("slope_num").cast("double") / col("slope_den").cast("double"))
          .as("slope_per_hour"),
        when(col("slope_den") =!= 0,
             col("icept_num").cast("double") / col("slope_den").cast("double"))
          .as("intercept"),
        (col("slope_num") > 0).as("rising"))
  }

  val eventsTrendSql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |         epoch_us(date_trunc('hour', ts)) // 3600000000 AS hnum,
      |         COUNT(*) AS y
      |  FROM events GROUP BY 1, 2),
      |based AS (
      |  SELECT event_type,
      |         hnum - MIN(hnum) OVER (PARTITION BY event_type) AS x, y
      |  FROM hourly),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_points,
      |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx,
      |         CAST(SUM(x * y) AS BIGINT) AS sxy
      |  FROM based GROUP BY 1)
      |SELECT event_type, CAST(n_points AS BIGINT) AS n_points,
      |  sy AS n_events,
      |  CAST(n_points * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n_points * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CASE WHEN n_points * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST(n_points * sxy - sx * sy AS DOUBLE)
      |              / CAST(n_points * sxx - sx * sx AS DOUBLE) END AS slope_per_hour,
      |  CASE WHEN n_points * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST(sy * sxx - sx * sxy AS DOUBLE)
      |              / CAST(n_points * sxx - sx * sx AS DOUBLE) END AS intercept,
      |  n_points * sxy - sx * sy > 0 AS rising
      |FROM m""".stripMargin

  // ------------------------------------------------------------ k-anonymity

  /** Minimum distinct users per released equivalence class. */
  private val KAnon = 5

  /** Minimum distinct sensitive values (event types) per released cell. */
  private val LDiv = 3

  /**
   * k-anonymity release gate with one-level time generalization [EXT] —
   * the privacy pass a telemetry/training-corpus release runs before
   * aggregate counts leave the boundary: a cell may be published only if
   * it covers ≥ k distinct users. Cells are first formed at the fine
   * quasi-identifier (event_type, calendar hour); cells that fail k are
   * NOT dropped outright but GENERALIZED — their events re-aggregated at
   * (event_type, calendar DAY), the standard local-recoding ladder step —
   * and released at day granularity if the merged cell now clears k, else
   * emitted with released=false so the suppression volume is itself
   * auditable. (On the synthetic corpus the hour level saturates as the
   * scale factor grows — denser data is genuinely easier to release;
   * both branches are density-pinned by the crafted spec.)
   *
   * Scale shape: ONE exchange of the raw (event_type, hour, user) triples
   * — hash-partitioned on (event_type, hour), which satisfies the
   * ClusteredDistribution of BOTH stacked aggregates (the q20 pattern):
   * the user-cell pre-aggregate `pre` AND the per-cell fine counts run
   * partition-local behind it, with no further corpus-sized shuffle.
   * Moving the exchange BEFORE the aggregate trades nothing: user cells
   * are near-unique, so a map-side partial distinct would not reduce the
   * shuffled volume — but it unpins parallelism from the input split
   * count (the corpus here arrives as ONE parquet row group, which
   * otherwise runs the whole partial aggregate in one task; measured at
   * sf1: 1.45 s → 0.65 s). The hour rides as a LONG bucket (hours since
   * epoch) through every corpus-sized operator — hashing and shuffling
   * 16-char window strings costs ~10% extra (measured) — and is
   * formatted to the window label only at cells level. The day-level
   * recoding rung is SHORT-CIRCUITED from a cells-sized peek at the
   * checkpointed audit table when no hour cell fails k (the common case
   * on dense corpora); when recoding does trigger, the failing-cell list
   * broadcasts into a semi-join over the scan.
   *
   * Determinism: counts and thresholds only — no floats, no ties.
   *
   * SESSION REQUIREMENT: hour/day bucketing is UTC epoch math
   * (`unix_timestamp div 3600`) while the window labels format in the
   * session timezone — the operator asserts a UTC session so grouping
   * and labels agree (every graft session pins UTC). Pre-1970
   * timestamps are additionally out of contract: integer `div`
   * truncates toward zero, not floor.
   *
   * RELEASE-BOUNDARY CONTRACT: this output is the release AUDIT table,
   * not the publishable release itself. Rows with released=false carry
   * their exact sub-k n_events/n_users so the suppression volume is
   * auditable — they MUST be filtered out (or their counts nulled)
   * before any row leaves the trust boundary, or the gate leaks the very
   * counts it suppresses. Likewise granularity='day' rows aggregate ONLY
   * the events of that day's k-FAILING hours (the local-recoding
   * remainder), not the full calendar day — hours that already cleared k
   * release at granularity='hour' and are not double-counted into the
   * day cell, so a day row is NOT a full-day total.
   */
  def eventsKanon(spark: SparkSession, dir: String): DataFrame = {
    require(spark.sessionState.conf.sessionLocalTimeZone == "UTC",
      "eventsKanon buckets hours as UTC epoch math but formats labels in " +
      "the session timezone — run with spark.sql.session.timeZone=UTC")
    // (r15 examined a repartition+cut of the STRING-windowed event
    // projection and measured it worse — materializing the 4-column
    // corpus outweighed the saved rescan. r16 supersedes that shape
    // entirely: long hour buckets, one up-front exchange, and a shared
    // user-cell pre-aggregate that both the fine counts and the day-level
    // recoding consume. Measured at sf1: 1.77 → ~0.9 s end-to-end.)
    def e = events(spark, dir)
      .select(col("event_type"),
              expr("unix_timestamp(ts) div 3600").as("h"),
              col("user_id"))
      .repartition(col("event_type"), col("h"))
    def winLabel(h: Column): Column =
      date_format(timestamp_seconds(h * 3600L), "yyyy-MM-dd HH:00")
    // fine feeds the pass rows, the failing-cell list, AND the recoding
    // short-circuit peek: without a lineage cut the corpus aggregation
    // subtree would execute three times — the cells table is
    // classes-sized, the cut is free. The inner user-cell aggregate is
    // partition-local behind the one exchange above.
    val fine = Checkpoints.cut(
      e.groupBy(col("event_type"), col("h"), col("user_id"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"), col("h"))
        // count(user_id) skips the NULL-user group the inner groupBy
        // keeps, matching the day rung's countDistinct (NULL-excluding)
        // and the oracle's COUNT(DISTINCT user_id); its events still
        // land in n_events
        .agg(sum(col("c")).as("n_events"), count(col("user_id")).as("n_users")))
    val pass = fine.filter(col("n_users") >= KAnon)
      .select(col("event_type"), winLabel(col("h")).as("win"),
              lit("hour").as("granularity"),
              col("n_events"), col("n_users"), lit(true).as("released"))
    val failing = fine.filter(col("n_users") < KAnon)
      .select(col("event_type"), col("h"))
    // Short-circuit the day-recoding rung when the audit shows ZERO
    // failing hour cells — the common case on dense corpora (hour-level
    // k saturates as density grows), where paying a second corpus pass
    // for a provably-empty re-aggregation is pure waste. The peek reads
    // the already-checkpointed cells table, so it costs a cells-sized
    // local scan, not a corpus job; when cells DO fail, the recoding
    // re-derives the failing hours' events from the (filtered) scan.
    if (failing.isEmpty) return pass
    val coarse = e
      .join(broadcast(failing), Seq("event_type", "h"), "left_semi")
      .groupBy(col("event_type"), expr("h div 24").as("d"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"),
              date_format(timestamp_seconds(col("d") * 86400L),
                          "yyyy-MM-dd").as("win"),
              lit("day").as("granularity"), col("n_events"), col("n_users"),
              (col("n_users") >= KAnon).as("released"))
    pass.unionByName(coarse)
  }

  /** Oracle: identical ladder as CTEs; the semi-join is an equi-join on
    * the failing (event_type, win) cells — unique group keys, so the join
    * never duplicates an event. */
  val eventsKanonSql: String =
    s"""WITH e AS (
       |  SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS win,
       |         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id
       |  FROM events),
       |fine AS (
       |  SELECT event_type, win, COUNT(*) AS n_events,
       |         COUNT(DISTINCT user_id) AS n_users
       |  FROM e GROUP BY 1, 2),
       |pass AS (
       |  SELECT event_type, win, 'hour' AS granularity,
       |         n_events, n_users, TRUE AS released
       |  FROM fine WHERE n_users >= $KAnon),
       |coarse AS (
       |  SELECT e.event_type, e.day AS win, 'day' AS granularity,
       |         COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
       |  FROM e
       |  JOIN (SELECT event_type, win FROM fine WHERE n_users < $KAnon) f
       |    ON f.event_type = e.event_type AND f.win = e.win
       |  GROUP BY 1, 2)
       |SELECT event_type, win, granularity, n_events, n_users, released
       |FROM pass
       |UNION ALL
       |SELECT event_type, win, granularity, n_events,
       |       n_users, n_users >= $KAnon AS released
       |FROM coarse""".stripMargin

  /**
   * l-DIVERSITY release audit [EXT] — the privacy rung ABOVE
   * [[eventsKanon]]'s k-anonymity (Machanavajjhala et al. 2007):
   * a cell with ≥ k users still leaks if every one of them did the SAME
   * thing, so each quasi-identifier class (calendar hour) must also
   * cover ≥ l distinct sensitive values (event types) to be released.
   * Emits both predicates per cell so the suppression ledger shows WHY
   * a cell was held back — too few users, too uniform, or both.
   *
   * Scale shape: ONE hash aggregate over the event scan (the two
   * distinct counts share the grouping); nothing but hour-cell rows
   * shuffle. Exact integers, engine-portable booleans.
   */
  def eventsLdiversity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd HH:00").as("win"),
              col("event_type"), col("user_id"))
      .groupBy(col("win"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("user_id")).as("n_users"),
           countDistinct(col("event_type")).as("n_types"))
      .select(col("win"), col("n_events"), col("n_users"), col("n_types"),
        (col("n_users") >= KAnon).as("k_anonymous"),
        (col("n_types") >= LDiv).as("l_diverse"),
        (col("n_users") >= KAnon && col("n_types") >= LDiv).as("released"))

  val eventsLdiversitySql: String =
    s"""WITH c AS (
       |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS win,
       |         event_type, user_id
       |  FROM events)
       |SELECT win, COUNT(*) AS n_events,
       |  COUNT(DISTINCT user_id) AS n_users,
       |  COUNT(DISTINCT event_type) AS n_types,
       |  COUNT(DISTINCT user_id) >= $KAnon AS k_anonymous,
       |  COUNT(DISTINCT event_type) >= $LDiv AS l_diverse,
       |  COUNT(DISTINCT user_id) >= $KAnon
       |    AND COUNT(DISTINCT event_type) >= $LDiv AS released
       |FROM c GROUP BY 1""".stripMargin

  // ------------------------------------------------------ bot/spam filtering

  /** Bot thresholds: a human doesn't sustain < [[BotMinGapUs]] between
    * actions or ≥ [[BotRatePerDayMilli]]/1000 events per active day. */
  private val BotMinGapUs = 120000000L // 2 minutes
  private val BotRatePerDayMilli = 5000L // 5 events / active day

  /**
   * BEHAVIORAL BOT/SPAM DETECTION [EXT] — the traffic-hygiene pass every
   * web/event corpus runs before events feed training or analytics:
   * per-user cadence features (minimum inter-arrival gap, events per
   * active day, 10-minute peak burst, type diversity) and a rule flag.
   * A user is flagged when their FASTEST action pair is superhuman or
   * their sustained rate over the active span is automation-like — the
   * two classic signals (rate limits catch floods; min-gap catches
   * scripted precision even at low volume).
   *
   * Determinism: all features are exact integers — gaps in epoch µs, the
   * span in whole seconds, the rate quantized by one BIGINT division
   * (guard: single-event users have no gap and a 0 span → NULL gap, NULL
   * rate, never flagged).
   *
   * Scale shape: one (user_id)-partitioned sort window for the lag gap
   * (AQE skew-splittable), one 10-minute (user, bucket) pre-aggregate,
   * one per-user rollup — all on user-keyed exchanges, no global sort.
   */
  def eventsBotFilter(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val withGap = ev.withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byTs))
    val burst = ev.groupBy(col("user_id"), expr("ts_us div 600000000L").as("b10m"))
      .agg(count(lit(1)).as("cb"))
      .groupBy(col("user_id")).agg(max(col("cb")).as("burst_10m"))
    withGap.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
           countDistinct(col("event_type")).as("n_types"),
           (max(col("ts_us")) - min(col("ts_us"))).as("span_us"),
           min(col("gap_us")).as("min_gap_us"))
      .withColumn("span_s", expr("span_us div 1000000L"))
      .join(burst, Seq("user_id"))
      .withColumn("rate_per_day_milli",
        when(col("span_s") > 0,
             expr("(n_events - 1L) * 86400000L div span_s")))
      .withColumn("is_bot",
        coalesce(col("min_gap_us") < BotMinGapUs, lit(false)) ||
        coalesce(col("rate_per_day_milli") >= BotRatePerDayMilli, lit(false)))
      .select("user_id", "n_events", "n_types", "span_s", "min_gap_us",
              "burst_10m", "rate_per_day_milli", "is_bot")
  }

  val eventsBotFilterSql: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
       |  FROM events),
       |g AS (
       |  SELECT user_id, event_type, ts_us,
       |         ts_us - lag(ts_us) OVER (PARTITION BY user_id
       |                                  ORDER BY ts_us, event_id) AS gap_us
       |  FROM ev),
       |burst AS (
       |  SELECT user_id, CAST(MAX(cb) AS BIGINT) AS burst_10m FROM (
       |    SELECT user_id, ts_us // 600000000 AS b10m, COUNT(*) AS cb
       |    FROM ev GROUP BY 1, 2) GROUP BY 1),
       |per_user AS (
       |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       |         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       |         CAST((MAX(ts_us) - MIN(ts_us)) // 1000000 AS BIGINT) AS span_s,
       |         CAST(MIN(gap_us) AS BIGINT) AS min_gap_us
       |  FROM g GROUP BY 1),
       |feat AS (
       |  SELECT p.*, b.burst_10m,
       |         CASE WHEN span_s > 0
       |              THEN CAST(((n_events - 1) * 86400000) // span_s AS BIGINT)
       |         END AS rate_per_day_milli
       |  FROM per_user p JOIN burst b USING (user_id))
       |SELECT user_id, n_events, n_types, span_s, min_gap_us, burst_10m,
       |       rate_per_day_milli,
       |       coalesce(min_gap_us < $BotMinGapUs, false)
       |         OR coalesce(rate_per_day_milli >= $BotRatePerDayMilli, false)
       |         AS is_bot
       |FROM feat""".stripMargin

  // ------------------------------------------------- engagement stickiness

  /** Rolling engagement window width (days) for WAU. */
  private val StickyWindowDays = 7L

  /**
   * DAU/WAU ENGAGEMENT STICKINESS [EXT] — the product-analytics ratio
   * (daily actives over rolling-7-day actives) that separates habitual
   * from episodic usage; [[eventsRetention]] answers "do cohorts come
   * back", stickiness answers "how often". Per observed UTC day:
   * distinct daily actives, distinct actives over [d−6, d], and
   * dau/wau quantized to ppm.
   *
   * Scale shape: the rolling distinct count is NOT a window function —
   * each (user, day) activation REPLICATES into the ≤7 future days it
   * is visible to (the events_sliding/hll_sliding trick: work ∝
   * activations × window width, never a per-day scan), then ONE
   * day-keyed distinct aggregate. Day grid joins against observed days
   * only, so quiet boundary days never emit phantom rows.
   */
  def eventsStickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = Checkpoints.cut(events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"), col("user_id"))
      .distinct(), eager = false)
    val obs = ud.select(col("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(col("day"),
                               col("day") + (StickyWindowDays - 1))).as("day_t"),
              col("user_id"))
      .join(broadcast(obs.select(col("day").as("day_t"))), "day_t")
      .groupBy(col("day_t").as("day"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    dau.join(wau, "day")
      .withColumn("stickiness_ppm", expr("dau * 1000000L div wau7"))
      .select("day", "dau", "wau7", "stickiness_ppm")
  }

  val eventsStickinessSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
       |  FROM events),
       |obs AS (SELECT DISTINCT day FROM ud),
       |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
       |repl AS (
       |  SELECT u.day + s.i AS day_t, u.user_id
       |  FROM ud u, UNNEST(generate_series(0, ${StickyWindowDays - 1})) AS s(i)),
       |wau AS (
       |  SELECT r.day_t AS day, CAST(COUNT(DISTINCT r.user_id) AS BIGINT) AS wau7
       |  FROM repl r JOIN obs o ON o.day = r.day_t GROUP BY 1)
       |SELECT d.day, d.dau, w.wau7,
       |       CAST((d.dau * 1000000) // w.wau7 AS BIGINT) AS stickiness_ppm
       |FROM dau d JOIN wau w USING (day)""".stripMargin

  // ----------------------------------------------------- growth accounting

  /** Gap (days) separating "returning" from "resurrected". */
  private val ReturnWindowDays = 7L

  /**
   * GROWTH ACCOUNTING [EXT] — the new/retained/returning/resurrected/
   * churned daily ledger (the standard growth dashboard):
   * [[eventsRetention]] follows cohorts forward, [[eventsStickiness]]
   * measures habit; this classifies every active (user, day) by the gap
   * since the user's PREVIOUS active day — new (none), retained
   * (yesterday), returning (≤ [[ReturnWindowDays]]), resurrected
   * (longer) — and derives churn by conservation: churned(d) =
   * dau(d−1) − retained(d), the users who were active yesterday and did
   * not come back (NULL on days with no observed predecessor).
   *
   * Scale shape: one (user, day) distinct, one user-partitioned lag
   * (AQE skew-splittable), one day rollup, one day-shift self-join of
   * the ~365-row ledger. No global window.
   */
  def eventsLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val ud = Checkpoints.cut(events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000L").as("day"), col("user_id"))
      .distinct(), eager = false)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val gap = ud.withColumn("gap", col("day") - lag(col("day"), 1).over(w))
    val byDay = gap.groupBy(col("day")).agg(
      count(lit(1)).as("dau"),
      sum(when(col("gap").isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("gap") === 1L, 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("gap") > 1L && col("gap") <= ReturnWindowDays, 1L)
            .otherwise(0L)).as("n_returning"),
      sum(when(col("gap") > ReturnWindowDays, 1L).otherwise(0L))
        .as("n_resurrected"))
    byDay.join(
        byDay.select((col("day") + 1).as("day"), col("dau").as("dau_prev")),
        Seq("day"), "left")
      .withColumn("n_churned", col("dau_prev") - col("n_retained"))
      .select("day", "dau", "n_new", "n_retained", "n_returning",
              "n_resurrected", "n_churned")
  }

  val eventsLifecycleSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
       |  FROM events),
       |g AS (
       |  SELECT day, user_id,
       |         day - lag(day) OVER (PARTITION BY user_id ORDER BY day) AS gap
       |  FROM ud),
       |byday AS (
       |  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau,
       |    CAST(SUM(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
       |    CAST(SUM(CASE WHEN gap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
       |    CAST(SUM(CASE WHEN gap > 1 AND gap <= $ReturnWindowDays
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
       |    CAST(SUM(CASE WHEN gap > $ReturnWindowDays THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_resurrected
       |  FROM g GROUP BY 1)
       |SELECT b.day, b.dau, b.n_new, b.n_retained, b.n_returning,
       |       b.n_resurrected, p.dau - b.n_retained AS n_churned
       |FROM byday b LEFT JOIN byday p ON p.day = b.day - 1""".stripMargin

  // ------------------------------------------------- activity concentration

  /**
   * ACTIVITY CONCENTRATION (Lorenz deciles) [EXT] — what share of all
   * events the top user deciles generate: the Pareto audit behind rate
   * limits, bot thresholds ([[eventsBotFilter]] reads exactly this tail)
   * and per-user sampling caps. Users rank by (event count DESC,
   * user_id); decile d covers ranks (d·U/10, (d+1)·U/10].
   *
   * The global rank is [[Dedup.classRank]]'s TWO-PASS DISTRIBUTED dense
   * rank (range partition + per-partition index + broadcast offsets) —
   * per-user counts are distinct rows by construction, so the position
   * rank IS the dense rank; no single-partition window at any user
   * count. Shares are exact integer divisions of exact counts.
   */
  def eventsPareto(spark: SparkSession, dir: String): DataFrame = {
    val pu = Checkpoints.cut(events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n")), eager = false)
    val tot = pu.agg(count(lit(1)).as("n_users"),
                     sum(col("n")).as("total_events"))
    val ranked = Dedup.classRank(
      pu.select((-col("n")).as("ra"), col("user_id").as("rb"), col("n")), "rnk")
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("((rnk - 1) * 10) div n_users"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users_d"), sum(col("n")).as("n_events_d"))
      .crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("n_events_d * 1000000L div total_events"))
      .select("decile", "n_users_d", "n_events_d", "share_ppm")
  }

  val eventsParetoSql: String =
    """WITH pu AS (
      |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
      |               CAST(SUM(n) AS BIGINT) AS total_events FROM pu),
      |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rnk
      |      FROM pu)
      |SELECT CAST(((rnk - 1) * 10) // tot.n_users AS BIGINT) AS decile,
      |       CAST(COUNT(*) AS BIGINT) AS n_users_d,
      |       CAST(SUM(n) AS BIGINT) AS n_events_d,
      |       CAST((SUM(n) * 1000000) // tot.total_events AS BIGINT) AS share_ppm
      |FROM r CROSS JOIN tot
      |GROUP BY 1, tot.total_events""".stripMargin
}
