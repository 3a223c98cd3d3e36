package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Data profiling / validation [EXT] — the pre-ingestion quality gate a
 * training pipeline runs on every table: per-column null counts, distinct
 * cardinalities, and ranges, one row per column.
 *
 * Scale shape: ONE scan of the table computes every column's statistics
 * as parallel aggregates (partial+final, so the shuffle carries one
 * partial-state row per partition), then the single result row is
 * unpivoted to (column, stats) rows driver-side — the unpivot is over a
 * row, not the data. The count-distincts are the only expensive members
 * (Spark expands them into a multi-distinct aggregate); a 100 TB profile
 * would swap them for approx_count_distinct or the [[Sketches]] HLL.
 *
 * Cross-engine contract: numeric min/max are emitted as DOUBLE and
 * timestamps as epoch micros — never as casted strings, because Spark
 * and DuckDB format doubles differently ("1.0E7" vs "10000000.0");
 * string columns get their own min/max columns.
 */
object Profiling {

  private case class Col(name: String, kind: String) // kind: num | ts | str

  private val OrderCols = Seq(
    Col("o_orderkey", "num"), Col("o_custkey", "num"),
    Col("o_orderstatus", "str"), Col("o_totalprice", "num"),
    Col("o_orderdate", "ts"), Col("o_orderpriority", "str"))

  /** Profile of the orders table: one output row per column. */
  def dataProfile(spark: SparkSession, dir: String): DataFrame = {
    val df = t(spark, dir, "orders")
    def numView(c: Col): Column = c.kind match {
      case "num" => col(c.name).cast("double")
      // NTZ → TZ cast is exact under the UTC session timezone, matching
      // DuckDB's epoch_us on the same ntz value
      case "ts"  => unix_micros(col(c.name).cast("timestamp")).cast("double")
      case _     => lit(null).cast("double")
    }
    def strView(c: Col): Column =
      if (c.kind == "str") col(c.name) else lit(null).cast("string")
    val aggs = OrderCols.flatMap { c =>
      Seq((count(lit(1)) - count(col(c.name))).as(s"${c.name}__nulls"),
          countDistinct(col(c.name)).as(s"${c.name}__distinct"),
          min(numView(c)).as(s"${c.name}__min_num"),
          max(numView(c)).as(s"${c.name}__max_num"),
          min(strView(c)).as(s"${c.name}__min_str"),
          max(strView(c)).as(s"${c.name}__max_str"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = OrderCols.map { c =>
      struct(lit(c.name).as("column_name"),
             col(s"${c.name}__nulls").as("n_nulls"),
             col(s"${c.name}__distinct").as("n_distinct"),
             col(s"${c.name}__min_num").as("min_num"),
             col(s"${c.name}__max_num").as("max_num"),
             col(s"${c.name}__min_str").as("min_str"),
             col(s"${c.name}__max_str").as("max_str"))
    }
    one.select(explode(array(rows: _*)).as("p")).select(col("p.*"))
  }

  val dataProfileSql: String = {
    def numExpr(c: Col): String = c.kind match {
      case "num" => c.name
      case "ts"  => s"epoch_us(${c.name})"
      case _     => "NULL"
    }
    val agg = OrderCols.flatMap { c =>
      Seq(s"COUNT(*) - COUNT(${c.name}) AS ${c.name}__nulls",
          s"COUNT(DISTINCT ${c.name}) AS ${c.name}__distinct",
          s"CAST(MIN(${numExpr(c)}) AS DOUBLE) AS ${c.name}__min_num",
          s"CAST(MAX(${numExpr(c)}) AS DOUBLE) AS ${c.name}__max_num",
          (if (c.kind == "str") s"MIN(${c.name})" else "CAST(NULL AS VARCHAR)") +
            s" AS ${c.name}__min_str",
          (if (c.kind == "str") s"MAX(${c.name})" else "CAST(NULL AS VARCHAR)") +
            s" AS ${c.name}__max_str")
    }.mkString(",\n    ")
    val unions = OrderCols.map { c =>
      s"""SELECT '${c.name}' AS column_name,
         |  CAST(${c.name}__nulls AS BIGINT) AS n_nulls,
         |  CAST(${c.name}__distinct AS BIGINT) AS n_distinct,
         |  ${c.name}__min_num AS min_num, ${c.name}__max_num AS max_num,
         |  ${c.name}__min_str AS min_str, ${c.name}__max_str AS max_str
         |FROM a""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (
       |  SELECT
       |    $agg
       |  FROM orders)
       |$unions""".stripMargin
  }

  // ---------------------------------------------- distribution drift (KS)

  /** Salt for the drift check's two-sample split over event ids (mirrors
    * [[Sampling]]'s 80/10/10 scheme on its own key space). */
  private[operators] val KsSalt = "graft_ks_v1:"

  /** α=0.05 two-sample KS critical coefficient c(α)² = 1.358², scaled by
    * 10⁴ so the drift test is pure integer arithmetic. */
  private val KsCrit2E4 = 18442L

  /**
   * Two-sample Kolmogorov–Smirnov drift check [EXT] — the data-validation
   * gate a pipeline runs between any two slices (train vs valid split
   * here, yesterday-vs-today in production): per event_type, the KS
   * statistic D = max_v |F_train(v) − F_valid(v)| over the `value`
   * distribution, plus the α=0.05 significance verdict.
   *
   * EVERYTHING is integer-exact cross-engine: D is computed as
   * max |c_tr·n_va − c_va·n_tr| over per-value cumulative counts
   * (never a double ECDF — those subtract order-dependently), the final
   * KS is one exact integer ratio, and the significance test
   * D > 1.358·√((n1+n2)/(n1·n2)) is squared into
   * d² ·10⁴ > 1.358²·10⁴ ·(n1+n2)·n1·n2 — decimal(38) on the Spark side,
   * HUGEINT in DuckDB, so no sqrt and no float comparison anywhere.
   *
   * Scale shape: one (type, value)-keyed aggregate collapses the corpus
   * to its distinct-value histogram, one window cumsum per event_type
   * over that (already-reduced) table, one final max — the shuffles
   * carry counts, never rows. A 100 TB stream would pre-bin values to
   * bounded resolution first; the dataflow is unchanged.
   */
  def statsKsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = events(spark, dir)
      .select(col("event_type"), col("value"),
              Sampling.splitCol(col("event_id"), KsSalt).as("split"))
      .filter(col("split") =!= "test")
      .groupBy(col("event_type"), col("value"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("a_tr"),
           sum(when(col("split") === "valid", 1L).otherwise(0L)).as("a_va"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val cum = h.select(col("event_type"),
        sum(col("a_tr")).over(w).as("c_tr"),
        sum(col("a_va")).over(w).as("c_va"))
      .withColumn("n_tr", max(col("c_tr")).over(wAll))
      .withColumn("n_va", max(col("c_va")).over(wAll))
      .withColumn("diff", abs(col("c_tr") * col("n_va") - col("c_va") * col("n_tr")))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val out = cum.groupBy(col("event_type"))
      .agg(max(col("n_tr")).as("n_train"), max(col("n_va")).as("n_valid"),
           max(col("diff")).as("d_scaled"))
    out.select(col("event_type"), col("n_train"), col("n_valid"), col("d_scaled"),
      (col("d_scaled").cast("double")
        / (col("n_train") * col("n_valid")).cast("double")).as("ks"),
      (d38(col("d_scaled")) * d38(col("d_scaled")) * d38(lit(10000L))
        > d38(lit(KsCrit2E4)) * d38(col("n_train") + col("n_valid"))
          * d38(col("n_train")) * d38(col("n_valid"))).as("drifted"))
  }

  // ------------------------------------------- categorical drift (chi²)

  /** Salt for the χ² drift check's two-sample split (its own key space,
    * like [[KsSalt]]). */
  private[operators] val Chi2Salt = "graft_chi2_v1:"

  /** χ²_{0.05, df} critical values ×10⁴ for df 1..12 — inlined into both
    * engines as the same integer literals (event_type cardinality is
    * tiny; a wider table is a constant away). */
  private val Chi2CritE4: Seq[(Int, Long)] = Seq(
    1 -> 38415L, 2 -> 59915L, 3 -> 78147L, 4 -> 94877L,
    5 -> 110705L, 6 -> 125916L, 7 -> 140671L, 8 -> 155073L,
    9 -> 169190L, 10 -> 183070L, 11 -> 196751L, 12 -> 210261L)

  /**
   * Two-sample χ² homogeneity drift check [EXT] — the categorical twin
   * of [[statsKsDrift]]: does the event_type DISTRIBUTION differ between
   * two slices (hash-split train vs valid here; yesterday-vs-today in
   * production)? For a 2×C contingency table the statistic reduces to
   * χ² = Σ_c Δ_c²/(r_c·n₁·n₂) with Δ_c = O₁c·n₂ − O₂c·n₁ and
   * r_c = O₁c+O₂c — every Δ_c is an exact integer, and each term
   * (Δ_c²·10⁶) div (r_c·n₁·n₂) is computed as the TWO-PIECE exact form
   * q·10⁶ + (rem·10⁶) div den (q = Δ² div den, rem = Δ² mod den), which
   * is algebraically identical but never materializes Δ²·10⁶: the widest
   * intermediate is Δ² ≤ (n₁·n₂)², inside decimal(38)/HUGEINT while
   * n₁·n₂ ≤ 10¹⁹ (≈ 3·10⁹ events per slice — far past any corpus where
   * a χ² verdict is informative; beyond it Spark's non-ANSI decimal
   * nulls where DuckDB raises, the engines' one divergence). Per-term
   * quotients are χ²-sized ×10⁶, so the BIGINT sum never overflows. The
   * α=0.05 verdict compares the exact integer sum against
   * χ²_{0.05, C−1}·10² — no float summation, no sqrt, no
   * accumulation-order dependence anywhere.
   *
   * Scale shape: ONE count aggregate collapses the corpus to C rows;
   * everything after is arithmetic on a table the size of the category
   * set. The hash split drifts nothing by construction, so the verdict
   * is false on testdata — the spec activates it on a crafted corpus
   * whose categories correlate with the slice.
   */
  def statsChi2Drift(spark: SparkSession, dir: String): DataFrame = {
    val h = events(spark, dir)
      .select(Sampling.splitCol(col("event_id"), Chi2Salt).as("split"),
              col("event_type"))
      .filter(col("split") =!= "test")
      .groupBy(col("event_type"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("o_tr"),
           sum(when(col("split") === "valid", 1L).otherwise(0L)).as("o_va"))
    def d38(c: Column): Column = c.cast("decimal(38,0)")
    val tot = h.agg(sum(col("o_tr")).as("n_tr"), sum(col("o_va")).as("n_va"),
                    count(lit(1)).as("n_cat"))
    val crit = Chi2CritE4.tail.foldLeft(
        when(col("n_cat") - 1 === Chi2CritE4.head._1, Chi2CritE4.head._2)) {
      case (acc, (df, c)) => acc.when(col("n_cat") - 1 === df, c)
    }
    // Δ and den fully in decimal(38): the products o·n and r·n₁·n₂ pass
    // LONG range already at ~10⁶–10⁹ events, so no LONG intermediates
    val delta = d38(col("o_tr")) * d38(col("n_va")) -
                d38(col("o_va")) * d38(col("n_tr"))
    h.crossJoin(broadcast(tot))
      .select(col("n_tr"), col("n_va"), col("n_cat"),
        (delta * delta).as("d2"),
        (d38(col("o_tr") + col("o_va")) * d38(col("n_tr")) * d38(col("n_va")))
          .as("den"))
      .select(col("n_tr"), col("n_va"), col("n_cat"),
              (expr("d2 div den") * lit(1000000L) +
                 expr("((d2 % den) * 1000000) div den")).as("t_fp"))
      .groupBy(col("n_tr"), col("n_va"), col("n_cat"))
      .agg(sum(col("t_fp")).as("chi2_fp"))
      .select(col("n_tr").as("n_train"), col("n_va").as("n_valid"),
        col("n_cat").as("n_categories"), col("chi2_fp"),
        round(col("chi2_fp").cast("double") / 1e6, 6).as("chi2"),
        (col("chi2_fp") > crit * lit(100L)).as("drifted"))
  }

  val statsChi2DriftSql: String = {
    val bucket =
      s"CAST(('0x' || substring(md5('$Chi2Salt' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    val critCase = Chi2CritE4.map { case (df, c) =>
      s"WHEN n_cat - 1 = $df THEN ${c}::BIGINT" }.mkString(" ")
    s"""WITH s AS (
       |  SELECT event_type,
       |    CASE WHEN $bucket < ${Sampling.TrainUpTo} THEN 'train'
       |         WHEN $bucket < ${Sampling.ValidUpTo} THEN 'valid'
       |         ELSE 'test' END AS split
       |  FROM events),
       |h AS (
       |  SELECT event_type,
       |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS o_tr,
       |    SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS o_va
       |  FROM s WHERE split <> 'test' GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(o_tr) AS BIGINT) AS n_tr,
       |         CAST(SUM(o_va) AS BIGINT) AS n_va,
       |         COUNT(*) AS n_cat
       |  FROM h),
       |terms AS (
       |  SELECT n_tr, n_va, n_cat,
       |    CAST((d2 // den) * 1000000 + ((d2 % den) * 1000000) // den
       |         AS BIGINT) AS t_fp
       |  FROM (SELECT n_tr, n_va, n_cat,
       |          (o_tr::HUGEINT * n_va - o_va::HUGEINT * n_tr)
       |            * (o_tr::HUGEINT * n_va - o_va::HUGEINT * n_tr) AS d2,
       |          (o_tr + o_va)::HUGEINT * n_tr * n_va AS den
       |        FROM h CROSS JOIN tot)),
       |agg AS (
       |  SELECT n_tr, n_va, n_cat, CAST(SUM(t_fp) AS BIGINT) AS chi2_fp
       |  FROM terms GROUP BY 1, 2, 3)
       |SELECT n_tr AS n_train, n_va AS n_valid,
       |  CAST(n_cat AS BIGINT) AS n_categories, chi2_fp,
       |  round(CAST(chi2_fp AS DOUBLE) / 1e6, 6) AS chi2,
       |  chi2_fp > (CASE $critCase END) * 100 AS drifted
       |FROM agg""".stripMargin
  }

  val statsKsDriftSql: String = {
    val bucket =
      s"CAST(('0x' || substring(md5('$KsSalt' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
    s"""WITH s AS (
       |  SELECT event_type, value,
       |    CASE WHEN $bucket < ${Sampling.TrainUpTo} THEN 'train'
       |         WHEN $bucket < ${Sampling.ValidUpTo} THEN 'valid'
       |         ELSE 'test' END AS split
       |  FROM events),
       |h AS (
       |  SELECT event_type, value,
       |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS a_tr,
       |    SUM(CASE WHEN split = 'valid' THEN 1 ELSE 0 END) AS a_va
       |  FROM s WHERE split <> 'test' GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type,
       |    SUM(a_tr) OVER w AS c_tr, SUM(a_va) OVER w AS c_va
       |  FROM h
       |  WINDOW w AS (PARTITION BY event_type ORDER BY value
       |               ROWS UNBOUNDED PRECEDING)),
       |tot AS (
       |  SELECT event_type, SUM(a_tr) AS n_tr, SUM(a_va) AS n_va
       |  FROM h GROUP BY 1),
       |d AS (
       |  SELECT c.event_type,
       |    MAX(t.n_tr) AS n_train, MAX(t.n_va) AS n_valid,
       |    MAX(abs(c.c_tr * t.n_va - c.c_va * t.n_tr)) AS d_scaled
       |  FROM cum c JOIN tot t USING (event_type) GROUP BY 1)
       |SELECT event_type,
       |  CAST(n_train AS BIGINT) AS n_train,
       |  CAST(n_valid AS BIGINT) AS n_valid,
       |  CAST(d_scaled AS BIGINT) AS d_scaled,
       |  CAST(d_scaled AS DOUBLE) / (CAST(n_train AS DOUBLE) * n_valid) AS ks,
       |  d_scaled::HUGEINT * d_scaled * 10000
       |    > $KsCrit2E4::HUGEINT * (n_train + n_valid) * n_train * n_valid AS drifted
       |FROM d""".stripMargin
  }

  // ------------------------------------------------------------------- PSI

  /** Nano-nat fixed-point scale for PSI terms; the 0.2 industry "major
    * shift" threshold becomes the exact integer 0.2e9. */
  private val PsiScale = 1000000000L

  /**
   * Population stability index [EXT] — the drift meter ML monitoring
   * actually standardizes on (credit scoring, feature drift dashboards):
   * PSI = Σ_c (p_c − q_c)·ln(p_c/q_c) between a REFERENCE window and a
   * CURRENT window, here the first vs second half of the event-time
   * range — the "yesterday vs today" cut a production monitor runs,
   * complementing [[statsKsDrift]] (numeric CDF) and [[statsChi2Drift]]
   * (frequency test, hash split). Add-one smoothing keeps one-sided
   * categories finite; PSI > 0.2 flags a major shift.
   *
   * Determinism: the window midpoint is exact integer micros
   * `(min+max) div 2`; each category term is quantized ONCE to
   * nano-nats and summed as integers ([[Sampling.mixKlDivergence]]'s
   * playbook), so the verdict is an exact integer comparison.
   *
   * Scale shape: one min/max aggregate, then ONE count aggregate
   * collapses the corpus to the category set; all arithmetic after is
   * on C rows. The bounds cross-join is a broadcast of a 1-row
   * aggregate.
   */
  def statsPsiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val bounds = ev.agg(min(col("ts_us")).as("mn"), max(col("ts_us")).as("mx"))
    // cut: h is category-set-sized and feeds BOTH the totals broadcast
    // and the term table — without the cut each consumer re-runs the
    // corpus scan + bounds + count subtree (6 exchanges, 4 scans)
    val h = graft.operators.Checkpoints.cut(
      ev.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          (col("ts_us") <= expr("(mn + mx) div 2")).as("is_ref"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
             sum(when(!col("is_ref"), 1L).otherwise(0L)).as("c_cur")))
    val tot = h.agg(sum(col("c_ref")).as("n_ref"), sum(col("c_cur")).as("n_cur"),
                    count(lit(1)).as("n_cat"))
    h.crossJoin(broadcast(tot))
      .select(col("n_ref"), col("n_cur"), col("n_cat"), expr(
        s"""CAST(round(((CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + n_cat AS DOUBLE))
           |  - (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + n_cat AS DOUBLE)))
           |  * ln((CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + n_cat AS DOUBLE))
           |       / (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + n_cat AS DOUBLE)))
           |  * $PsiScale) AS LONG)""".stripMargin).as("term_fp"))
      .groupBy(col("n_ref"), col("n_cur"), col("n_cat"))
      .agg(sum(col("term_fp")).as("psi_fp"))
      .select(col("n_ref"), col("n_cur"), col("n_cat").as("n_categories"),
        col("psi_fp"),
        round(col("psi_fp").cast("double") / PsiScale.toDouble, 6).as("psi"),
        (col("psi_fp") > PsiScale / 5L).as("drifted"))
  }

  /** Oracle: identical midpoint split, smoothing, and nano-nat terms. */
  val statsPsiDriftSql: String =
    s"""WITH ev AS (SELECT event_type, epoch_us(ts) AS ts_us FROM events),
       |bounds AS (SELECT MIN(ts_us) AS mn, MAX(ts_us) AS mx FROM ev),
       |h AS (
       |  SELECT event_type,
       |    SUM(CASE WHEN ts_us <= (mn + mx) // 2 THEN 1 ELSE 0 END) AS c_ref,
       |    SUM(CASE WHEN ts_us <= (mn + mx) // 2 THEN 0 ELSE 1 END) AS c_cur
       |  FROM ev CROSS JOIN bounds GROUP BY 1),
       |tot AS (
       |  SELECT CAST(SUM(c_ref) AS BIGINT) AS n_ref,
       |         CAST(SUM(c_cur) AS BIGINT) AS n_cur,
       |         COUNT(*) AS n_cat
       |  FROM h),
       |terms AS (
       |  SELECT n_ref, n_cur, n_cat,
       |    CAST(round(((CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + n_cat AS DOUBLE))
       |      - (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + n_cat AS DOUBLE)))
       |      * ln((CAST(c_ref + 1 AS DOUBLE) / CAST(n_ref + n_cat AS DOUBLE))
       |           / (CAST(c_cur + 1 AS DOUBLE) / CAST(n_cur + n_cat AS DOUBLE)))
       |      * $PsiScale) AS BIGINT) AS term_fp
       |  FROM h CROSS JOIN tot)
       |SELECT n_ref, n_cur, CAST(n_cat AS BIGINT) AS n_categories,
       |  CAST(SUM(term_fp) AS BIGINT) AS psi_fp,
       |  round(CAST(SUM(term_fp) AS DOUBLE) / $PsiScale, 6) AS psi,
       |  CAST(SUM(term_fp) AS BIGINT) > ${PsiScale / 5L} AS drifted
       |FROM terms GROUP BY 1, 2, 3""".stripMargin
}
