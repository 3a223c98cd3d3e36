package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.{AsofJoinPlan, AsofJoinStrategy}

/**
 * The native as-of join operator (logical node + strategy + physical
 * sort-merge exec) against the declarative union+window twin — row-for-row
 * on the real events table and on a crafted corpus that exercises ties,
 * no-match rows, key boundaries, and partition-count invariance.
 */
class AsofJoinNativeSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    if (!s.experimental.extraStrategies.contains(AsofJoinStrategy))
      s.experimental.extraStrategies =
        AsofJoinStrategy +: s.experimental.extraStrategies
    s
  }

  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq

  /** purchases/clicks from the events table, as in joinAsofClicks. */
  private def purchasesAndClicks: (DataFrame, DataFrame) = {
    val ev = graft.operators.Tables.events(spark, TestSpark.Sf0001)
      .select(col("user_id"), col("event_id"), col("event_type"),
              unix_micros(col("ts")).as("ts_us"))
    (ev.filter(col("event_type") === "purchase")
         .select(col("user_id"), col("event_id").as("purchase_id"), col("ts_us")),
     ev.filter(col("event_type") === "click")
         .select(col("user_id"), col("ts_us"),
                 col("event_id").as("click_id"), col("ts_us").as("click_ts_us")))
  }

  test("native exec == declarative union+window on the events table") {
    val (purchases, clicks) = purchasesAndClicks
    val declarative = graft.operators.JoinsExt.asofJoin(
        purchases, clicks, "user_id", "ts_us",
        payload = Seq("click_id", "click_ts_us"), rightOrd = "click_id")
      .select(col("user_id"), col("purchase_id"), col("ts_us"),
              col("asof_click_id"), col("asof_click_ts_us"))
    val native = AsofJoinPlan.asofJoinNative(
        purchases, clicks.select("user_id", "ts_us", "click_id", "click_ts_us"),
        keyCol = "user_id", timeCol = "ts_us", ordCol = "click_id")
      .select(col("user_id"), col("purchase_id"), col("ts_us"),
              col("asof_click_id"), col("asof_click_ts_us"))
    val cols = Seq("user_id", "purchase_id", "ts_us", "asof_click_id", "asof_click_ts_us")
    val n = native.count()
    assert(n == purchases.count()) // left-outer semantics: every left row once
    assert(canon(native, cols) == canon(declarative, cols))
  }

  test("plan uses the custom exec and declares the (key, time) merge contract") {
    val (purchases, clicks) = purchasesAndClicks
    val native = AsofJoinPlan.asofJoinNative(
      purchases, clicks.select("user_id", "ts_us", "click_id", "click_ts_us"),
      "user_id", "ts_us", "click_id")
    native.collect()
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan)
  }

  test("column pruning reaches the scans THROUGH the custom node (no custom rule needed)") {
    // right side carries every events column; the query consumes ONE
    // payload. Catalyst's ColumnPruning handles unknown operators
    // generically as long as the node exposes its expressions (ours does,
    // via the case-class product) — this pins that contract: if a
    // refactor hid the key/time/ord expressions from `expressions`,
    // pruning would break and this test would catch the regression.
    val ev = graft.operators.Tables.events(spark, TestSpark.Sf0001)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
              unix_micros(col("ts")).as("ts_us"))
    val clicksWide = ev.filter(col("event_type") === "click")
      .withColumn("ts_us", unix_micros(col("ts")))
    val joined = graft.plans.AsofJoinPlan.asofJoinNative(
        purchases, clicksWide, "user_id", "ts_us", "event_id")
      .select(col("purchase_id"), col("asof_event_id"))
    assert(joined.count() > 0)
    val scans = joined.queryExecution.executedPlan.toString
      .split("\n").filter(_.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(s => !s.contains("props")),
           s"no scan should read the unused wide columns:\n${scans.mkString("\n")}")
  }

  test("randomized corpora: native == declarative across 10 seeds") {
    // Dense random keys/times with heavy collisions — many same-(key,time)
    // ties, empty keys, and left rows before/after all right rows.
    import spark.implicits._
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val left = Seq.fill(80)((rnd.nextInt(8).toLong, rnd.nextInt(20).toLong))
        .toDF("k", "t")
      val right = Seq.tabulate(60)(i =>
          (rnd.nextInt(10).toLong, rnd.nextInt(20).toLong, i.toLong,
           s"v$i")).toDF("k", "t", "o", "tag")
      val native = graft.plans.AsofJoinPlan
        .asofJoinNative(left, right, "k", "t", "o")
        .select(col("k"), col("t"), col("asof_tag"))
      val declarative = graft.operators.JoinsExt.asofJoin(
          left, right, "k", "t", payload = Seq("tag"), rightOrd = "o")
        .select(col("k"), col("t"), col("asof_tag"))
      val cols = Seq("k", "t", "asof_tag")
      assert(canon(native, cols) == canon(declarative, cols), s"seed=$seed")
    }
  }

  test("crafted corpus: ties, no-match, key boundaries, nReduce invariance") {
    import spark.implicits._
    // left: (key, time); right: (key, time, ord, tag)
    val left = Seq(
      (1L, 10L), (1L, 20L), (1L, 20L),      // duplicate left rows
      (2L, 5L),                             // before any right row: no match
      (3L, 100L),                           // key with no right rows at all
      (4L, 50L)
    ).toDF("k", "t")
    val right = Seq(
      (1L, 10L, 1L, "a"), (1L, 10L, 2L, "b"),   // tie at t=10: ord 2 wins
      (1L, 15L, 1L, "c"),                        // latest ≤ 20
      (2L, 6L, 1L, "d"),                         // after left t=5: no match
      (4L, 50L, 9L, "e"),                        // exact-time match (inclusive)
      (5L, 1L, 1L, "z")                          // key never probed
    ).toDF("k", "t", "o", "tag")
    val expected = Seq(
      "1|10|b",    // tie resolved to greatest ord
      "1|20|c", "1|20|c",
      "2|5|null",
      "3|100|null",
      "4|50|e")    // inclusive at equal time
    for (parts <- Seq(1, 3, 7)) {
      val native = AsofJoinPlan.asofJoinNative(
          left.repartition(parts), right.repartition(parts), "k", "t", "o")
        .select(col("k"), col("t"), col("asof_tag"))
      val got = native.collect()
        .map(r => s"${r.get(0)}|${r.get(1)}|${Option(r.get(2)).getOrElse("null")}")
        .sorted.toSeq
      assert(got == expected.sorted, s"parts=$parts")
    }
  }
}
