package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/**
 * Extended join operators [EXT] — join kinds Spark has no native operator
 * for (SURVEY.md §2.3 "Joins": all absent in the reference), built from
 * compositions that stay scale-correct:
 *
 *  - **as-of join**: union the two streams, one window pass per key —
 *    ONE hash exchange, no range cross-product, no per-key collect. The
 *    classic sort-merge-as-of re-expressed as a declarative plan AQE can
 *    skew-split.
 *  - **range join** (points into intervals): intervals are exploded to the
 *    fixed-width buckets they cover, points hash to their bucket, and the
 *    join becomes an equi-join on bucket + residual predicate — no
 *    broadcast-nested-loop blowup; shuffle volume is linear in points +
 *    interval-bucket coverage.
 */
object JoinsExt {

  // ---------------------------------------------------------------- as-of

  /**
   * For each left row, attach the payload of the most recent right row of
   * the same key with time <= the left row's time (inclusive; ties among
   * right rows break on `rightOrd`, last wins).
   *
   * Both inputs need columns `keyCol` and `timeCol`; the right side's
   * `payload` columns are appended to left rows as `asof_<name>` (null when
   * no right row precedes).
   */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, payload: Seq[String],
               rightOrd: String): DataFrame = {
    val leftCols = left.columns.toSeq
    val lTagged = left
      .withColumn("_src", lit(1))
      .withColumn("_ord", lit(0L))
      .withColumns(payload.map(p => s"_p_$p" -> lit(null).cast(right.schema(p).dataType)).toMap)
    val rTagged = right
      .select((Seq(col(keyCol), col(timeCol)) ++
               leftCols.filterNot(c => c == keyCol || c == timeCol)
                 .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
               Seq(lit(0).as("_src"), col(rightOrd).cast("long").as("_ord")) ++
               payload.map(p => col(p).as(s"_p_$p"))): _*)
    // (time, src, ord): right rows sort before the left row at equal time
    // (inclusive semantics), and among themselves by rightOrd.
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col("_src"), col("_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // separate last() per payload column is safe: with one frame and one
    // ordering, they are all non-null on exactly the same (right) rows, so
    // every last() picks the same row.
    val matched = lTagged.unionByName(rTagged)
      .withColumns(payload.map(p => s"asof_$p" -> last(col(s"_p_$p"), ignoreNulls = true).over(w)).toMap)
    matched.filter(col("_src") === 1)
      .select((leftCols.map(col) ++ payload.map(p => col(s"asof_$p"))): _*)
  }

  /** Shared input prep for the two as-of formulations — one definition so
    * the declarative and native twins can never drift apart on what they
    * join. */
  private def purchasesAndClicks(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
    (ev.filter(col("event_type") === "purchase")
       .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us")),
     ev.filter(col("event_type") === "click")
       .select(col("user_id"), col("ts_us"),
               col("event_id").as("click_id"), col("ts_us").as("click_ts_us")))
  }

  /** As-of query: every purchase matched to the same user's most recent
    * click at-or-before it; reports the match and the gap. */
  def joinAsofClicks(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(spark, dir)
    asofJoin(purchases, clicks, "user_id", "ts_us",
             payload = Seq("click_id", "click_ts_us"), rightOrd = "click_id")
      .select(col("user_id"), col("purchase_id"), col("ts_us").as("purchase_ts_us"),
              col("asof_click_id").as("click_id"),
              (col("ts_us") - col("asof_click_ts_us")).as("gap_us"))
  }

  /** [[joinAsofClicks]] through the native whole-operator path
    * ([[graft.plans.AsofJoinPlan]] → AsofJoinExec): same result, but the
    * physical plan is the single-pass sort-merge with O(1) state instead
    * of the union+window composition. Shares the declarative query's
    * DuckDB oracle — the two formulations must be indistinguishable.
    * The strategy registration is additive and idempotent (it only
    * teaches the planner graft's own logical node; no built-in planning
    * changes), so the query installs it on whatever session runs it. */
  def joinAsofNative(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{AsofJoinPlan, AsofJoinStrategy}
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        AsofJoinStrategy +: spark.experimental.extraStrategies
    val (purchases, clicks) = purchasesAndClicks(spark, dir)
    AsofJoinPlan.asofJoinNative(purchases, clicks, "user_id", "ts_us", "click_id")
      .select(col("user_id"), col("purchase_id"), col("ts_us").as("purchase_ts_us"),
              col("asof_click_id").as("click_id"),
              (col("ts_us") - col("asof_click_ts_us")).as("gap_us"))
  }

  val joinAsofClicksSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |u AS (
      |  SELECT user_id, ts_us, event_id,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS src,
      |    CASE WHEN event_type = 'click' THEN event_id END AS c_id,
      |    CASE WHEN event_type = 'click' THEN ts_us END AS c_ts
      |  FROM e),
      |m AS (
      |  SELECT user_id, ts_us, event_id, src,
      |    last_value(c_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, src, coalesce(c_id, 0)
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id,
      |    last_value(c_ts IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, src, coalesce(c_id, 0)
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
      |  FROM u)
      |SELECT user_id, event_id AS purchase_id, ts_us AS purchase_ts_us,
      |       click_id, ts_us - click_ts AS gap_us
      |FROM m WHERE src = 1""".stripMargin

  // --------------------------------------------------------- nearest as-of

  /**
   * NEAREST-direction as-of [EXT] — each purchase matched to the CLOSEST
   * click in time, either direction (kdb's `aj` is backward-only; the
   * nearest variant is the sensor-fusion/late-attribution semantics that
   * pandas `merge_asof(direction='nearest')` standardizes). Composed as
   * two [[asofJoin]] passes — backward verbatim, forward on NEGATED
   * timestamps (so "most recent ≤ t" becomes "earliest ≥ t"; right-tie
   * order negates too, keeping the smallest click_id preferred) — then a
   * per-row argmin on the two gaps, ties to the backward match (a click
   * AT the purchase instant is "at or before" it, gap 0).
   *
   * Scale shape: exactly two key-partitioned sort windows over
   * points + events — the as-of family's linear shape, no interval
   * blowup, no self-join.
   */
  def joinAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(spark, dir)
    val back = asofJoin(purchases, clicks, "user_id", "ts_us",
        payload = Seq("click_id", "click_ts_us"), rightOrd = "click_id")
      .select(col("user_id"), col("purchase_id"), col("ts_us"),
              col("asof_click_id").as("prev_id"),
              col("asof_click_ts_us").as("prev_ts"))
    val pN = purchases.select(col("user_id"), col("purchase_id"),
                              (-col("ts_us")).as("tsn"))
    val cN = clicks.select(col("user_id"), (-col("ts_us")).as("tsn"),
                           col("click_id"), (-col("click_id")).as("ord_neg"),
                           col("click_ts_us"))
    val fwd = asofJoin(pN, cN, "user_id", "tsn",
        payload = Seq("click_id", "click_ts_us"), rightOrd = "ord_neg")
      .select(col("purchase_id"),
              col("asof_click_id").as("next_id"),
              col("asof_click_ts_us").as("next_ts"))
    back.join(fwd, "purchase_id")
      .withColumn("prev_gap", col("ts_us") - col("prev_ts"))
      .withColumn("next_gap", col("next_ts") - col("ts_us"))
      .withColumn("direction",
        when(col("prev_id").isNotNull &&
             (col("next_id").isNull || col("prev_gap") <= col("next_gap")),
             "prev")
        .when(col("next_id").isNotNull, "next"))
      .select(col("user_id"), col("purchase_id"),
              col("ts_us").as("purchase_ts_us"),
              when(col("direction") === "prev", col("prev_id"))
                .when(col("direction") === "next", col("next_id"))
                .as("click_id"),
              col("direction"),
              when(col("direction") === "prev", col("prev_gap"))
                .when(col("direction") === "next", col("next_gap"))
                .as("gap_us"))
  }

  /** Oracle: the backward window verbatim plus its mirrored twin on
    * negated timestamps/tie order, then the same argmin CASE chain. */
  val joinAsofNearestSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
      |  FROM events WHERE event_type IN ('purchase', 'click')),
      |u AS (
      |  SELECT user_id, ts_us, -ts_us AS tsn, event_id,
      |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS src,
      |    CASE WHEN event_type = 'click' THEN event_id END AS c_id,
      |    CASE WHEN event_type = 'click' THEN ts_us END AS c_ts
      |  FROM e),
      |mb AS (
      |  SELECT user_id, ts_us, event_id, src,
      |    last_value(c_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, src, coalesce(c_id, 0)
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_id,
      |    last_value(c_ts IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts_us, src, coalesce(c_id, 0)
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_ts
      |  FROM u),
      |mf AS (
      |  SELECT user_id, ts_us, event_id, src,
      |    last_value(c_id IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY tsn, src, coalesce(-c_id, 0)
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_id,
      |    last_value(c_ts IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY tsn, src, coalesce(-c_id, 0)
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_ts
      |  FROM u),
      |j AS (
      |  SELECT b.user_id, b.event_id AS purchase_id, b.ts_us,
      |         b.prev_id, b.ts_us - b.prev_ts AS prev_gap,
      |         f.next_id, f.next_ts - b.ts_us AS next_gap
      |  FROM mb b JOIN mf f ON f.event_id = b.event_id AND f.src = 1
      |  WHERE b.src = 1)
      |SELECT user_id, purchase_id, ts_us AS purchase_ts_us,
      |  CASE WHEN prev_id IS NOT NULL
      |            AND (next_id IS NULL OR prev_gap <= next_gap) THEN prev_id
      |       WHEN next_id IS NOT NULL THEN next_id END AS click_id,
      |  CASE WHEN prev_id IS NOT NULL
      |            AND (next_id IS NULL OR prev_gap <= next_gap) THEN 'prev'
      |       WHEN next_id IS NOT NULL THEN 'next' END AS direction,
      |  CASE WHEN prev_id IS NOT NULL
      |            AND (next_id IS NULL OR prev_gap <= next_gap) THEN prev_gap
      |       WHEN next_id IS NOT NULL THEN next_gap END AS gap_us
      |FROM j""".stripMargin

  // ---------------------------------------------------------------- range

  /**
   * Join points to the intervals containing them ([lo, hi), same-unit
   * doubles) via bucketing: every interval is replicated to the
   * `bucketWidth`-wide buckets it overlaps, every point hashes to its one
   * bucket, and the match is an equi-join on bucket plus the exact residual
   * range predicate. Pick `bucketWidth` ≈ the typical interval span so
   * replication stays O(1) per interval.
   */
  def rangeJoinPoints(points: DataFrame, pCol: String,
                      intervals: DataFrame, loCol: String, hiCol: String,
                      bucketWidth: Double): DataFrame = {
    val iv = intervals.withColumn("_bucket",
      explode(sequence(floor(col(loCol) / bucketWidth).cast("long"),
                       floor(col(hiCol) / bucketWidth).cast("long"))))
    val pts = points.withColumn("_bucket",
      floor(col(pCol) / bucketWidth).cast("long"))
    pts.join(iv, Seq("_bucket"))
      .filter(col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("_bucket")
  }

  /** Range query: per part, aggregate the lineitems whose extended price
    * falls in the part's derived price interval (irregular, overlapping
    * intervals — a genuine range join, not band-alignment). */
  def joinRangePrice(spark: SparkSession, dir: String): DataFrame = {
    val iv = t(spark, dir, "part")
      .select(col("p_partkey"), (col("p_retailprice") * 10).as("lo"),
              (col("p_retailprice") * 10 + (col("p_size") + 1) * 2).as("hi"))
    val pts = t(spark, dir, "lineitem").select(col("l_extendedprice"))
    rangeJoinPoints(pts, "l_extendedprice", iv, "lo", "hi", bucketWidth = 100.0)
      .groupBy(col("p_partkey"))
      .agg(count(lit(1)).as("n_points"), dsum(col("l_extendedprice")).as("sum_price"))
  }

  val joinRangePriceSql: String =
    """WITH iv AS (
      |  SELECT p_partkey, p_retailprice * 10 AS lo,
      |         p_retailprice * 10 + (p_size + 1) * 2 AS hi
      |  FROM part)
      |SELECT p_partkey, COUNT(*) AS n_points,
      |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM iv JOIN lineitem ON l_extendedprice >= lo AND l_extendedprice < hi
      |GROUP BY 1""".stripMargin

  /** 6-hour window width in microseconds, the overlap-join bin width. */
  private val WinUs = 6L * 3600 * 1000000

  /**
   * Interval-overlap join [EXT] — the interval×interval sibling of
   * [[rangeJoinPoints]]: per-user daily activity spans (first..last event
   * of the day) joined against a fixed 6-hour window grid on STRICT
   * overlap, reported per window (active spans + total overlap time).
   *
   * Scale technique: the naive formulation is a theta join
   * (a_start < w_end AND w_start < a_end) — O(|A|·|W|) comparisons, a
   * BroadcastNestedLoopJoin that dies at corpus scale. Binning
   * re-expresses it as an EQUI-join: each activity span explodes into
   * the 6-hour bins it touches (≤ 5 per day-long span), each window
   * owns exactly one bin, and the exact predicate re-checks after the
   * bin match — Spark shuffles on the bin key like any hash join. Each
   * qualifying pair meets in exactly one bin (the window's own), so no
   * dedup pass is needed. The oracle keeps the theta formulation: the
   * gate is differential across FORMULATIONS, not just engines.
   * All arithmetic is exact integer microseconds.
   */
  def joinIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(unix_micros(col("ts"))).as("a_start"),
           max(unix_micros(col("ts"))).as("a_end"))
    val wins = spark.range(1).select(explode(expr(
        "sequence(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-31 18:00:00', INTERVAL 6 HOURS)"))
        .as("w"))
      .select(unix_micros(col("w")).as("w_start_us"))
      .withColumn("w_end_us", col("w_start_us") + WinUs)
      // integer div, not `/`: double division near a bin boundary can
      // round across it and silently drop a candidate pair
      .withColumn("bin", expr(s"w_start_us div $WinUs"))
    val binned = act.withColumn("bin",
      explode(expr(s"sequence(a_start div $WinUs, a_end div $WinUs)")))
    binned.join(wins, Seq("bin"))
      .filter(col("a_start") < col("w_end_us") && col("w_start_us") < col("a_end"))
      .groupBy(col("w_start_us"))
      .agg(count(lit(1)).as("n_spans"),
           sum(least(col("a_end"), col("w_end_us")) -
               greatest(col("a_start"), col("w_start_us"))).as("sum_overlap_us"))
  }

  val joinIntervalOverlapSql: String =
    s"""WITH act AS (
       |  SELECT user_id, date_trunc('day', ts) AS day,
       |         MIN(epoch_us(ts)) AS a_start, MAX(epoch_us(ts)) AS a_end
       |  FROM events GROUP BY 1, 2),
       |wins AS (
       |  SELECT epoch_us(g) AS w_start_us, epoch_us(g) + $WinUs AS w_end_us
       |  FROM (SELECT unnest(range(TIMESTAMP '2024-01-01 00:00:00',
       |                            TIMESTAMP '2024-02-01 00:00:00',
       |                            INTERVAL 6 HOUR)) AS g))
       |SELECT w_start_us, COUNT(*) AS n_spans,
       |       CAST(SUM(LEAST(a_end, w_end_us) - GREATEST(a_start, w_start_us)) AS BIGINT) AS sum_overlap_us
       |FROM act JOIN wins
       |  ON a_start < w_end_us AND w_start_us < a_end
       |GROUP BY 1""".stripMargin
}
