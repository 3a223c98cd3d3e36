package graft.tools

/**
 * Whole-surface repeated-scan audit — the standing gate for the one class
 * of scale bug that recurred in r15 (q21/q11/mad_outliers: AQE broadcast
 * conversion detaching a multi-consumer subtree from exchange reuse, so
 * the corpus subtree silently executes twice).
 *
 * Executes every query and inspects its POST-AQE plan for the same
 * parquet table scanned more than once. A multi-scan is not automatically
 * wrong — self-joins, sketch-vs-exact comparisons, and query-sample
 * sides scan a table twice BY DESIGN — so every legitimate case is
 * pinned in [[allowed]] with its reason and a MAX scan count per table.
 * Output: `docs/RESCAN.json` with the per-query observed counts; any
 * query that multi-scans without an allowlist entry, or beyond its
 * pinned count, lands in `"unexplained"` and the tool exits 1 — a new
 * AQE-detached rescan fails loud instead of surfacing as an sf1 mystery
 * two rounds later.
 */
object RescanAudit {

  /** query -> (max scans of any single table, why that is the design).
    * Grouped by the reason families; counts observed at sf0.001. */
  val allowed: Map[String, (Int, String)] = {
    val selfJoinAnn =
      "query side IS a bounded sample/centroid grid of the corpus table; " +
        "each extra scan is the pruned bounded side of a self-join, not a " +
        "second corpus pass"
    val sketchVsExact =
      "the query COMPARES a sketch/approx result against the exact ground " +
        "truth, so the exact branch re-reads the table by design"
    val twoRoles =
      "the table plays two genuinely different roles (two dimension roles, " +
        "two relation operands, or an event-stream self-join)"
    val stagedText =
      "corpus stats side (df/avgdl/vocab) and per-doc side both read " +
        "documents; the stats side is aggregate-pruned at the scan"
    Map(
      // --- similarity / embeddings: bounded query-sample self-joins
      "ann_bruteforce_topk" -> (2, selfJoinAnn),
      "ann_filtered_topk" -> (3, selfJoinAnn),
      "ann_hard_negatives" -> (2, selfJoinAnn),
      "ann_hybrid_rrf" -> (4, selfJoinAnn + "; documents feeds the lexical arm " +
        "(BM25 stats + tf) and the dense arm's id map"),
      "ann_ivf_topk" -> (3, selfJoinAnn),
      "ann_kmeans_topk" -> (2, selfJoinAnn),
      "ann_multiprobe_lsh" -> (2, selfJoinAnn),
      "ann_nndescent" -> (2, selfJoinAnn),
      "ann_pq_topk" -> (2, selfJoinAnn),
      "ann_range_search" -> (3, selfJoinAnn),
      "ann_rerank" -> (4, selfJoinAnn + "; coarse (quantized) and exact stages " +
        "each pair queries with the corpus"),
      "dedup_embedding" -> (4, selfJoinAnn),
      "dedup_semantic" -> (4, selfJoinAnn),
      "embed_centroid_outliers" -> (2, selfJoinAnn),
      "embed_matryoshka" -> (4, selfJoinAnn + "; prefix-dim and full-dim arms " +
        "are compared, each pairing queries with the corpus"),
      "eval_knn_label" -> (2, selfJoinAnn),
      "eval_retrieval" -> (12, "multi-arm retrieval eval: each retrieval arm " +
        "(exact / LSH probes) pairs the bounded query sample with the corpus, " +
        "and the relevance-label side re-reads ids; every scan beyond the " +
        "corpus pass is bounded-sample-sized"),
      "split_semantic_decontam" -> (2, selfJoinAnn),
      // --- sketch / filter vs exact ground truth
      "bloom_membership" -> (3, sketchVsExact),
      // cms_heavy_hitters left the list in r17: sketch build and exact
      // top-K now share one cut per-user aggregate (single corpus scan)
      "hll_distinct" -> (2, sketchVsExact),
      "events_hll_sliding" -> (3, sketchVsExact),
      "layout_zorder" -> (2, "before/after layout comparison reads the fact " +
        "table under both orderings by design"),
      // --- two-role / self-join relational shapes
      "join_theta" -> (2, twoRoles),
      "q7_volume_shipping" -> (2, twoRoles + " (customer and supplier nations)"),
      "q8_market_share" -> (2, twoRoles + " (customer and supplier nations)"),
      "set_ops" -> (2, twoRoles + " (two set operands)"),
      "subquery_correlated" -> (2, twoRoles + " (outer rows vs per-key average)"),
      "q15_top_supplier" -> (2, "revenue view consumed as both ranking input " +
        "and max-selector — the classic Q15 double reference"),
      "q17_small_quantity" -> (2, "per-part average quantity (correlated " +
        "subquery) joins back to the fact rows; part feeds filter + join"),
      "q20_excess_suppliers" -> (2, "per-(part,supplier) shipped volume vs " +
        "per-part threshold, both from lineitem — Q20's nested aggregate"),
      "q22_idle_customers" -> (2, "global average balance (bounded scalar) vs " +
        "per-customer rows — Q22's scalar subquery"),
      "q2_min_cost_supplier" -> (3, "per-part minimum cost (correlated " +
        "subquery) joins back; part feeds the filter and both sides"),
      // --- event-stream self-joins / multi-pass analytics
      "events_attribution" -> (2, twoRoles + " (conversions vs prior touches)"),
      "events_bot_filter" -> (2, "per-user rate stats vs per-event rows"),
      "events_cusum" -> (6, "per-type mean/sd baseline, the cumulative path, " +
        "and the alarm join each read the (narrow) hourly series; the series " +
        "is cells-sized after the first aggregate, only the first scan is " +
        "corpus-sized"),
      "events_ewma" -> (3, "seed row + recursive smoothing + final join over " +
        "the hourly series"),
      "events_funnel" -> (6, "k-stage funnel: each stage's matches join the " +
        "next stage's candidate events — a k-way self-join of the event " +
        "stream, the funnel's definition"),
      "events_gapfill" -> (3, "observed cells vs generated calendar spine vs " +
        "fill-source rows"),
      "events_outliers" -> (2, "per-type robust stats vs per-event rows"),
      "events_retention" -> (3, "cohort anchor events vs return events vs " +
        "cohort sizes — three roles of the same stream"),
      "events_rfm" -> (2, "per-user aggregates vs corpus-level quantile cuts"),
      "events_transitions" -> (2, "event stream self-joined with its lead " +
        "(from->to transition pairs)"),
      "join_asof_clicks" -> (2, "trades and quotes are both derived from " +
        "events (two filtered roles)"),
      "join_asof_native" -> (2, "same two-role derivation through the native " +
        "as-of plan"),
      "join_asof_nearest" -> (4, "both directions (backward/forward) pair the " +
        "two event roles"),
      // --- text: corpus-stats side + per-doc side
      "text_bigram_lm" -> (5, stagedText + "; train/held-out split plus " +
        "unigram and bigram count sides"),
      "text_bm25" -> (4, stagedText),
      "text_boilerplate" -> (3, stagedText),
      "text_burstiness" -> (2, stagedText),
      "text_rake_keywords" -> (2, stagedText),
      "text_repetition" -> (2, stagedText),
      "text_span_dedup" -> (2, "tile table self-joined to find shared spans"),
      "text_tfidf" -> (3, stagedText),
      "text_unigram_lm" -> (3, stagedText),
      "text_vocab_growth" -> (2, stagedText),
      "eval_langid" -> (2, "labeled sample vs prediction side"),
      "dsir_importance" -> (3, "target-domain n-gram stats, source stats, and " +
        "per-doc scoring all read documents; the stats sides are " +
        "aggregate-pruned"),
      "split_contamination" -> (3, "train split, eval split, and n-gram " +
        "overlap all derive from documents"),
      // --- dedup pipelines with sample/threshold sides
      "dedup_edit_distance" -> (3, "LSH candidate pairs join back to both " +
        "members' texts (two roles) plus the bucket side"),
      "dedup_incr" -> (3, "existing corpus vs incoming batch (two roles) plus " +
        "the join-back for winners"),
      "dedup_substr" -> (3, "bigram tiles self-joined (two roles) plus the " +
        "winner join-back"),
      "pack_sequences" -> (2, "token counts + bin assignment join back to rows"),
      "dedup_source_profile" -> (3, "the duplicate-docs-sized component table " +
        "looks up the source of BOTH its member and its representative (two " +
        "roles) against the 2-column (doc_id, source) projection; both " +
        "lookups are column-pruned scans, the text column is read once by " +
        "the LSH pass"),
      "media_phash" -> (4, "phash bands self-joined (two roles) plus the " +
        "pair join-back to both members' metadata"),
      "corpus_attrition" -> (2, "per-stage attrition reads the rule booleans " +
        "twice: per-source stage counts and corpus totals"),
      "stats_chi2_drift" -> (2, "baseline-window vs current-window " +
        "distributions from the same stream")
    )
  }

  private val table = "(region|nation|customer|supplier|part|orders|lineitem|events|documents|embeddings)\\.parquet".r

  /** Tables scanned more than once in the ALREADY-EXECUTED (post-AQE)
    * plan of `df` — call after an action, or the adaptive plan is still
    * the initial one and reuse/detachment hasn't been decided. */
  def multiScans(df: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val p = df.queryExecution.executedPlan.toString
    val scans = p.split("\n").filter(_.contains("Scan parquet"))
      .flatMap(l => table.findFirstMatchIn(l).map(_.group(1)))
    scans.groupBy(identity).filter(_._2.length > 1)
      .map { case (t, v) => t -> v.length }
  }

  /** The gate: Some(violation message) when `dup` has a table not
    * covered by — or beyond the pinned max of — the allowlist entry. */
  def violation(name: String, dup: Map[String, Int]): Option[String] =
    if (dup.isEmpty) None
    else allowed.get(name) match {
      case None => Some(s"$name -> ${dup.map { case (t, n) => s"$t x$n" }.mkString(", ")} (NOT ALLOWLISTED)")
      case Some((max, _)) =>
        val over = dup.filter(_._2 > max)
        if (over.nonEmpty)
          Some(s"$name -> ${over.map { case (t, n) => s"$t x$n" }.mkString(", ")} (exceeds pinned max $max)")
        else None
    }

  def main(args: Array[String]): Unit = {
    // 8 cores, as PlanDump: the audited plans are the shapes docs/PLANS.md shows
    val spark = graft.Sessions.harness("8")
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val multi = scala.collection.mutable.SortedMap[String, Map[String, Int]]()
    val errs = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, fn) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val df = fn(spark, dir)
        df.count()
        val dup = multiScans(df)
        if (dup.nonEmpty) multi(name) = dup
      } catch { case e: Throwable => errs += s"$name: ${e.getMessage}" }
      graft.operators.Checkpoints.releaseAll(spark)
    }
    spark.stop()
    val unexplained =
      multi.toSeq.flatMap { case (name, dup) => violation(name, dup) } ++
      errs.map(e => s"ERR $e")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val entries = multi.map { case (name, dup) =>
      val reason = allowed.get(name).map(_._2).getOrElse("UNEXPLAINED")
      s"${q(name)}: {\"scans\": {${dup.toSeq.sorted.map { case (t, n) => s"${q(t)}: $n" }.mkString(", ")}}, " +
        s"\"max_allowed\": ${allowed.get(name).map(_._1).getOrElse(0)}, \"reason\": ${q(reason)}}"
    }.mkString(",\n  ")
    val json =
      s"""{
         |  "sf_dir": ${q(dir)},
         |  "queries_audited": ${graft.SparkEntry.queries.size},
         |  "multi_scan_queries": ${multi.size},
         |  "unexplained": [${unexplained.map(q).mkString(", ")}],
         |  "allowlisted": {
         |  $entries
         |  }
         |}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get("docs/RESCAN.json"), json)
    if (unexplained.nonEmpty) {
      unexplained.foreach(u => System.err.println(s"RESCAN UNEXPLAINED: $u"))
      sys.exit(1)
    }
    println(s"RESCAN OK: ${multi.size} allowlisted multi-scan queries, 0 unexplained")
  }
}
