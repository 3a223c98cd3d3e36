package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Plan-shape ratchet: pins the shuffle-exchange count of headline
 * queries at the measured value so a future refactor cannot silently
 * regress a plan (an extra Exchange at sf0.001 is an extra full-corpus
 * shuffle at 100 TB). Budgets are ceilings — a plan IMPROVEMENT lowers
 * the measured count and should lower the budget with it.
 *
 * The count is taken from the pre-execution physical plan (AQE's
 * runtime coalescing/reuse only ever removes exchanges, never adds).
 * Broadcast exchanges are deliberately NOT budgeted: broadcasting a dim
 * is the cheap path, and AQE moves joins in and out of broadcast by
 * statistics.
 */
class PlanBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  /** Single source of truth for the exchange count — the budgets and the
    * zero-shuffle test must measure the same thing. */
  private def shufflesOf(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange (hash|range|Single)".r
      .findAllIn(df.queryExecution.executedPlan.toString).length

  private def shuffles(name: String): Int =
    shufflesOf(SparkEntry.queries(name)(spark, sf))

  // the load-bearing claim of several Scaladocs: these are PURE MAPS —
  // nothing may ever cross the network
  test("zero-shuffle queries stay zero-shuffle") {
    for (q <- Seq("bpe_encode", "embed_quantize", "text_chunks", "sample_split",
                  "quality_gopher_rules", "minhash_signatures"))
      assert(shuffles(q) == 0, s"$q grew a shuffle")
  }

  test("headline query shuffle budgets hold") {
    val budgets = Map(
      "q1_pricing_summary"  -> 1, // one agg exchange, nothing else
      "q6_forecast_revenue" -> 1,
      "q3_shipping_priority" -> 1, // dims broadcast; one fact agg exchange
      "dedup_exact"          -> 1,
      "mr_wordcount"         -> 1, // the E3 key shuffle; the global sort is
      "mr_inverted_index"    -> 1, // the sink's (MrJob.writeText), not the
      "mr_sorted_concat"     -> 1, // query's
      "quality_c4_rules"     -> 1, // explode + single doc-keyed combine
      "text_winnowing"       -> 1, // doc-partitioned window only
      "text_entropy"         -> 2, // (doc,char) combine + doc rollup
      "stats_ks_drift"       -> 2, // value histogram + per-type window
      "events_attribution"   -> 2, // as-of union window + channel rollup
      "events_path_topk"     -> 2, // user window + path agg
      "layout_zorder"        -> 2, // bucket agg (+ scalar-domain agg)
      "dedup_minhash_lsh"    -> 2, // signatures in the map; band bucket + pair distinct
      "media_phash"          -> 4,
      "eval_langid"          -> 4,
      "bloom_membership"     -> 4,
      "text_tfidf"           -> 5,
      "dsir_importance"      -> 5)
    for ((q, budget) <- budgets) {
      val n = shuffles(q)
      assert(n <= budget, s"$q: $n shuffles exceeds budget $budget")
    }
  }

  /** Single-partition windows: a Window with no partitionBy requires
    * SinglePartition — one task sorts the whole input. At 100 TB that is
    * THE scale-killer pattern (the r6 classRank finding), so every gated
    * query's optimized plan is checked against an explicit allowlist of
    * justified cases (all of them tiny driver-bounded inputs). */
  private def globalWindows(name: String): Int = globalWindowsOf(
    SparkEntry.queries(name)(spark, sf))

  private def globalWindowsOf(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size

  // query -> max allowed unpartitioned Windows, each with the reason the
  // single partition is safe (input bounded to k rows BEFORE the window).
  // Everything else on the surface measures 0.
  private val globalWindowAllowance: Map[String, Int] = Map(
    "mix_domains"     -> 1, // SUM() OVER () on the per-domain rollup (rows = #domains)
    "mix_temperature" -> 1, // same grand-total share over the per-language rollup
    "mix_upsample_epochs" -> 1, // SUM() OVER () totals on the per-source rollup (rows = #sources)
    "ann_hybrid_rrf"  -> 2, // rank fusion over two ≤20-row TakeOrdered heads (judge-checked r6)
    "text_vocab_growth" -> 1 // cumulative sums over the 10-row decile rollup — size-invariant
    // quantile_sketch dropped from the allowlist in r10: the sample is
    // now ranked on the driver, so its plan has no Window at all
  )

  /** The checked-in whole-surface ratchet (VERDICT r5 #7). */
  private val budgetFile = new java.io.File("src/test/resources/plan_budgets.tsv")

  // Regenerate with:  PLAN_BUDGETS_REGEN=1 sbt "testOnly graft.PlanBudgetSpec"
  // (same session confs as the assertion, so counts are comparable).
  // Budgets are ceilings: regen after an IMPROVEMENT to ratchet down,
  // and the file diff documents exactly which plans changed.
  test("whole-surface shuffle ratchet: every query within its checked-in budget") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    if (sys.env.contains("PLAN_BUDGETS_REGEN")) {
      val out = new java.io.PrintWriter(budgetFile, "UTF-8")
      try names.foreach(q => out.println(s"$q\t${shuffles(q)}"))
      finally out.close()
      info(s"regenerated ${budgetFile.getPath} for ${names.size} queries")
    } else {
      val recorded = scala.io.Source.fromFile(budgetFile, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(q, n) = l.split('\t'); q -> n.toInt
        }.toMap
      val missing = names.filterNot(recorded.contains)
      assert(missing.isEmpty,
        s"queries with no recorded plan budget (run PLAN_BUDGETS_REGEN=1): $missing")
      val stale = recorded.keys.filterNot(names.contains)
      assert(stale.isEmpty, s"plan_budgets.tsv lists removed queries: $stale")
      val over = names.flatMap { q =>
        // one DataFrame construction per query (streaming gates EXECUTE
        // their stream during construction), both plan checks from it
        val df = SparkEntry.queries(q)(spark, sf)
        val n = shufflesOf(df)
        val gw = globalWindowsOf(df)
        val shuffleErr =
          if (n > recorded(q)) Some(s"$q: $n shuffles > budget ${recorded(q)}")
          else None
        val windowErr =
          if (gw > globalWindowAllowance.getOrElse(q, 0))
            Some(s"$q: $gw unpartitioned Window(s) — single-partition sort " +
              "at scale; partition it or justify in globalWindowAllowance")
          else None
        shuffleErr ++ windowErr
      }
      assert(over.isEmpty, s"plan regressions:\n  ${over.mkString("\n  ")}")
    }
  }

  test("docs/PLANS.md covers exactly the current query surface") {
    // name coverage only — the shuffle/window ratchets are the behavioral
    // gates; this keeps the checked-in explain dump from going stale when
    // queries are added or removed (regen: sbt "runMain graft.tools.PlanDump")
    val f = new java.io.File("docs/PLANS.md")
    assert(f.exists, "docs/PLANS.md missing — run graft.tools.PlanDump")
    val txt = scala.io.Source.fromFile(f, "UTF-8").mkString
    val sections = "(?m)^## (\\S+)$".r.findAllMatchIn(txt).map(_.group(1)).toSet
    val names = SparkEntry.queries.keySet
    val missing = names -- sections
    val stale = sections -- names
    assert(missing.isEmpty, s"queries not in docs/PLANS.md (regen): $missing")
    assert(stale.isEmpty, s"docs/PLANS.md lists removed queries (regen): $stale")
  }
}
