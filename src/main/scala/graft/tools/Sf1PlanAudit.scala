package graft.tools

import java.nio.file.{Files, Paths}

/**
 * sf1 EXECUTED-plan audit (VERDICT r14 item 5): PlanBudgetSpec ratchets
 * exchange counts at sf0.001 from the PRE-execution plan, but AQE can
 * re-plan at runtime and the shape can differ at 10× data — the r14 q21
 * case (exchange reuse lost at sf1, subtree executed twice) was invisible
 * to the spec. This tool runs each watch-list query to completion at sf1
 * and records the POST-AQE plan's operator counts (shuffle exchanges,
 * parquet scans, reused exchanges/subqueries, join strategies) as a
 * checked-in artifact, so the next sf1 shape regression is a one-line
 * diff instead of a bench mystery.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<sf1 dir> sbt "runMain graft.tools.Sf1PlanAudit"
 * Writes docs/SF1_PLANS.json. Artifact, not a spec: sf1 data is a local
 * derivation (tools/gen_sf1.py), so CI boxes without it stay green.
 */
object Sf1PlanAudit {
  /** The sf1 watch list: every query BENCH_SF1 flagged >2× its oracle
    * with >0.5 s excess (r14), plus the queries this round restructured.
    * Stream gates are excluded — their executed plans are per-trigger
    * and their floor is pinned by docs/STREAM_FLOOR.json. */
  val WatchList: Seq[String] = Seq(
    "orders_market_basket", "q21_waiting_orders", "text_ngram_vocab",
    "events_mad_outliers", "events_kanon", "q20_excess_suppliers",
    "q18_large_orders", "q11_important_parts", "q4_order_priority",
    "join_salted", "text_tfidf", "text_repetition", "text_bm25",
    "graph_common_neighbors", "ann_rerank")

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.harness()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/sf1_local")
    spark.range(1000).selectExpr("sum(id)").collect()

    val rows = WatchList.sorted.map { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      df.count() // force full execution so the AQE final plan is real
      val p = df.queryExecution.executedPlan.toString
      graft.operators.Checkpoints.releaseAll(spark)
      def n(pat: String) = pat.r.findAllIn(p).size
      // "Exchange (hash|range|Single)" = shuffle exchanges, the
      // PlanBudgetSpec definition; broadcasts are intentionally free
      val m = Seq(
        "shuffle_exchanges" -> n("Exchange (hash|range|Single)"),
        "parquet_scans" -> n("Scan parquet"),
        "reused_exchanges" -> n("ReusedExchange"),
        "reused_subqueries" -> n("ReusedSubquery"),
        "broadcast_hash_joins" -> n("BroadcastHashJoin"),
        "sort_merge_joins" -> n("SortMergeJoin"),
        "codegen_fallbacks" -> n("CodegenFallback"))
      s"""  "$name": {${m.map { case (k, v) => s""""$k": $v""" }.mkString(", ")}}"""
    }
    val json = s"""{
  "comment": "post-AQE executed-plan operator counts at sf1 (graft.tools.Sf1PlanAudit); regenerate after plan-affecting changes",
  "sf_dir_basename": "${new java.io.File(dir).getName}",
  "queries": {
${rows.mkString(",\n")}
  }
}
"""
    Files.writeString(Paths.get("docs/SF1_PLANS.json"), json)
    println(s"wrote docs/SF1_PLANS.json (${WatchList.size} queries)")
    spark.stop()
  }
}
