package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * The training-corpus preparation pipeline applied END-TO-END [EXT] — the
 * composition a production data run actually ships, as one declarative
 * plan: quality gate → exact dedup → MinHash near-dup removal →
 * deterministic split, reporting per-(split, lang) corpus statistics.
 * Every stage is an operator this library already oracle-gates on its
 * own; this entry gates their SEQUENCING (each stage consumes the
 * previous stage's survivors, not the raw table).
 *
 * Stage shapes at 100 TB:
 *  1. quality gate: scan filter on a stored column — pushes into the
 *     parquet reader (PushedFilters), no data movement;
 *  2. exact dedup: one hash agg on md5(normalized text) carrying only
 *     (hash, id), then a semi-join of the corpus against the surviving
 *     representative ids;
 *  3. near-dup removal: [[Dedup]]'s capped MinHash-LSH chain + CC loop,
 *     run on the exact-dedup survivors only;
 *  4. split: pure per-row hash map ([[Sampling.splitCol]]), zero shuffle.
 */
object Pipeline {

  /** Minimum document length surviving the quality gate (chars). */
  private val MinChars = 200

  /** The prep chain's stage tables, each consuming the previous stage's
    * survivors: raw `docs` → `quality` gate → `exact`-dedup survivors →
    * near-dup survivors (`kept`). */
  private final case class Stages(
      docs: DataFrame, quality: DataFrame, exact: DataFrame, kept: DataFrame)

  private def stages(spark: SparkSession, dir: String): Stages = {
    val docs = t(spark, dir, "documents")
    val quality = docs.filter(col("n_chars") >= MinChars)
    val reps = quality
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // materialize the exact-dedup survivors once: the minhash chain, the
    // CC loop's edge base, and the final keep-join all consume this
    // table, and it only shrinks from here (a cluster run would persist
    // the stage boundary to storage for the same reason)
    val exact = Checkpoints.cut(quality.join(reps, Seq("doc_id"), "left_semi"))
    val nonReps = Dedup.componentsOf(Dedup.minhashPairsOf(exact))
      .filter(col("rep_doc_id") =!= col("doc_id"))
      .select(col("doc_id"))
    Stages(docs, quality, exact, exact.join(nonReps, Seq("doc_id"), "left_anti"))
  }

  def corpusPrep(spark: SparkSession, dir: String): DataFrame =
    stages(spark, dir).kept
      .select(Sampling.splitCol(col("doc_id")).as("split"),
              col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  /**
   * Per-source STAGE ATTRITION of the prep pipeline [EXT] — where each
   * source's documents die: raw → quality gate → exact dedup → near-dup
   * removal, with per-stage removal rates in exact ppm. [[corpusPrep]]
   * gates the pipeline's final output; this query gates the ATTRIBUTION —
   * the table a data run reads to decide whether a source's loss is a
   * quality problem (gate), a crawl problem (exact dupes), or a template
   * problem (near-dups), and whether running MinHash after exact dedup
   * still pays for a given source.
   *
   * Scale shape: the stage tables are the corpusPrep chain (exact
   * survivors cut once, shared with the LSH+CC subtree); the four
   * per-source counts are source-domain-sized aggregates, joined
   * source-to-source — nothing beyond the pipeline's own cost plus three
   * tiny joins. Rates are integer ppm (BIGINT division both engines); a
   * stage that zeroes a source yields NULL for the next stage's rate.
   */
  def corpusAttrition(spark: SparkSession, dir: String): DataFrame = {
    val Stages(docs, quality, exact, kept) = stages(spark, dir)
    def cnt(df: DataFrame, as: String) =
      df.groupBy(col("source")).agg(count(lit(1)).as(as))
    cnt(docs, "n_raw")
      .join(cnt(quality, "n_quality"), Seq("source"), "left")
      .join(cnt(exact, "n_exact"), Seq("source"), "left")
      .join(cnt(kept, "n_final"), Seq("source"), "left")
      .na.fill(0L, Seq("n_quality", "n_exact", "n_final"))
      .select(col("source"), col("n_raw"), col("n_quality"), col("n_exact"),
        col("n_final"),
        expr("(n_raw - n_quality) * 1000000 div n_raw")
          .as("quality_removed_ppm"),
        when(col("n_quality") > 0,
          expr("(n_quality - n_exact) * 1000000 div n_quality"))
          .as("exact_removed_ppm"),
        when(col("n_exact") > 0,
          expr("(n_exact - n_final) * 1000000 div n_exact"))
          .as("neardup_removed_ppm"))
  }

  /** DuckDB twin of [[stages]]: the CTE prefix (leading WITH) ending in
    * `kept`, shared by both pipeline oracles. */
  private val stagesCtes: String =
    s"""WITH RECURSIVE quality AS (
       |  SELECT * FROM documents WHERE n_chars >= $MinChars),
       |reps AS (
       |  SELECT MIN(doc_id) AS doc_id
       |  FROM (SELECT doc_id, md5(lower(trim(text))) AS h FROM quality)
       |  GROUP BY h),
       |exact AS (
       |  SELECT q.* FROM quality q WHERE q.doc_id IN (SELECT doc_id FROM reps)),
       |${Dedup.componentsCtesFrom("exact")},
       |kept AS (
       |  SELECT e.* FROM exact e
       |  WHERE e.doc_id NOT IN
       |        (SELECT doc_id FROM comp WHERE rep_doc_id <> doc_id))""".stripMargin

  val corpusAttritionSql: String =
    s"""$stagesCtes,
       |r AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
       |      FROM documents GROUP BY 1),
       |qc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_quality
       |       FROM quality GROUP BY 1),
       |ec AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
       |       FROM exact GROUP BY 1),
       |fc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_final
       |       FROM kept GROUP BY 1)
       |SELECT r.source, n_raw,
       |  COALESCE(qc.n_quality, 0) AS n_quality,
       |  COALESCE(ec.n_exact, 0) AS n_exact,
       |  COALESCE(fc.n_final, 0) AS n_final,
       |  CAST((n_raw - COALESCE(qc.n_quality, 0)) * 1000000 // n_raw
       |       AS BIGINT) AS quality_removed_ppm,
       |  CASE WHEN COALESCE(qc.n_quality, 0) > 0 THEN
       |    CAST((qc.n_quality - COALESCE(ec.n_exact, 0)) * 1000000
       |         // qc.n_quality AS BIGINT) END AS exact_removed_ppm,
       |  CASE WHEN COALESCE(ec.n_exact, 0) > 0 THEN
       |    CAST((ec.n_exact - COALESCE(fc.n_final, 0)) * 1000000
       |         // ec.n_exact AS BIGINT) END AS neardup_removed_ppm
       |FROM r
       |LEFT JOIN qc ON qc.source = r.source
       |LEFT JOIN ec ON ec.source = r.source
       |LEFT JOIN fc ON fc.source = r.source""".stripMargin

  val corpusPrepSql: String =
    s"""$stagesCtes
       |SELECT ${Sampling.splitSqlExpr} AS split, lang,
       |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM kept GROUP BY 1, 2""".stripMargin
}
