package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Tables._

/**
 * Similarity search over the `embeddings` table [EXT]: brute-force cosine
 * top-k as the exact baseline, an IVF-style cluster-probed variant and a
 * random-hyperplane LSH bucketing as the 100 TB scale paths, plus
 * embedding-cosine near-dup.
 *
 * Scale design:
 *  - the query set is tiny and is always the broadcast side — the corpus is
 *    scanned exactly once per query batch, never shuffled whole;
 *  - per-vector norms are computed once in the same scan (no second pass);
 *  - brute force is the oracle baseline; IVF restricts candidates to the
 *    nprobe nearest coarse clusters (the corpus side arrives pre-blocked on
 *    its cluster id, so the candidate join is an equi-join on `label`, not a
 *    cross join); LSH restricts to equal sign-bucket (equi-join on bucket);
 *  - ranking ties break on (cosine DESC, vec_id ASC) so results are
 *    deterministic under any physical plan / partition pre-pruning.
 *
 * Numeric determinism vs the DuckDB oracle: floats are cast to double
 * BEFORE any arithmetic (exact conversion in both engines), dot products
 * fold strictly left-to-right in array order (Spark `aggregate` HOF vs
 * DuckDB `list_reduce`), and the one place a mean is taken (IVF centroids)
 * sums 1e-6-quantized integers instead of doubles — so every cosine,
 * including the centroid-probe stage, is bit-identical.
 */
object Similarity {

  /** Number of query vectors (smallest vec_ids — deterministic sample). */
  private val NumQueries = 8
  private val K = 5
  private val NProbe = 2

  /** Dot product of two double arrays — the native codegen'd expression
    * ([[graft.functions.DotProduct]]), ~3× faster than the HOF fold
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaces (no
    * intermediate array, no per-element lambda interpretation) and
    * bit-identical to it: both accumulate strictly left-to-right. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotProduct(a, b)

  private def cosine(a: Column, na: Column, b: Column, nb: Column): Column =
    dot(a, b) / (na * nb)

  /** The first `k` rows of each `by` partition of `df` under `order` (score
    * first, tie-break column last), numbered 1..k in column `rank`. */
  private def topK(df: DataFrame, by: String, k: Int, rank: String, order: Column*): DataFrame =
    df.withColumn(rank, row_number().over(Window.partitionBy(col(by)).orderBy(order: _*)))
      .filter(col(rank) <= k)

  /** Corpus with double-cast vectors and precomputed L2 norms. */
  private[operators] def corpus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** The query batch: the [[NumQueries]] smallest vec_ids of the corpus
    * `c` as (q_id, qv, qn). Read by [[annBruteforceTopk]], [[ivfProbes]]
    * (so every IVF query), [[annPqTopk]], [[annIvfpqTopk]],
    * [[embedMatryoshka]] and [[annRerank]]. */
  private def queryBatch(c: DataFrame): DataFrame =
    c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** Each query's [[K]] best-scored neighbors of `scored` (q_id,
    * neighbor_id, cos) as (q_id, rnk, neighbor_id, cos), ties to the
    * smaller neighbor_id: the ranking of [[annBruteforceTopk]],
    * [[annIvfTopk]], [[annFilteredTopk]], [[annKmeansTopk]],
    * [[annMultiprobeLsh]], [[embedMatryoshka]] and [[annRerank]]. */
  private def nearestK(scored: DataFrame): DataFrame =
    topK(scored, "q_id", K, "rnk", col("cos").desc, col("neighbor_id").asc)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), col("cos"))

  /** DuckDB twins: double-cast corpus with norms; sequential-fold dot. */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"

  private val corpusSql: String =
    s"""corpus AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(${dotSql("CAST(embedding AS DOUBLE[])", "CAST(embedding AS DOUBLE[])")}) AS nrm
       |  FROM embeddings)""".stripMargin

  private val queriesSqlCte: String =
    s"""qs AS (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM corpus
       |  WHERE vec_id < $NumQueries)""".stripMargin

  // ---------------------------------------------------------- brute force

  /** Exact cosine top-k: broadcast the query batch against one corpus scan,
    * rank per query with a deterministic tiebreak. */
  def annBruteforceTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    nearestK(c.join(broadcast(queryBatch(c)), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos")))
  }

  val annBruteforceTopkSql: String =
    s"""WITH $corpusSql, $queriesSqlCte,
       |scored AS (
       |  SELECT q_id, c.vec_id AS neighbor_id,
       |         ${dotSql("qv", "v")} / (qn * c.nrm) AS cos
       |  FROM corpus c JOIN qs ON c.vec_id <> q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $K""".stripMargin

  // ------------------------------------------------------------------ IVF

  /** IVF top-k: coarse centroids = per-label mean vector (one cheap agg);
    * each query probes its NProbe nearest centroids and searches only those
    * clusters — the candidate set arrives via an equi-join on `label`, so
    * at 100 TB only the probed fraction of the corpus is ever scored.
    * Centroids are [[quantizedMean]]s, so every cosine is bit-identical
    * under any partitioning and in the DuckDB oracle. */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    nearestK(ivfSearch(c, c, labelCentroids(c), "label"))
  }

  /** The IVF coarse level, shared by every probe-and-search query (through
    * [[ivfSearch]]): each query of [[queryBatch]] ranks the centroid
    * table `cent` (key, cv, cn) by cosine and keeps its [[NProbe]] probed
    * clusters, ties to the smaller key. Output (q_id, qv, qn, key) — one
    * row per (query, probe). */
  private def ivfProbes(c: DataFrame, cent: DataFrame, key: String): DataFrame = {
    val cands = queryBatch(c).crossJoin(broadcast(cent))
      .select(col("q_id"), col("qv"), col("qn"), col(key),
              cosine(col("qv"), col("qn"), col("cv"), col("cn")).as("ccos"))
    topK(cands, "q_id", NProbe, "crnk", col("ccos").desc, col(key).asc)
      .select(col("q_id"), col("qv"), col("qn"), col(key))
  }

  /** The probe-and-search step of [[annIvfTopk]], [[annRangeSearch]],
    * [[annFilteredTopk]] and [[annKmeansTopk]]: each `cands` row (vec_id,
    * v, nrm, key) in a cluster [[ivfProbes]] picked is scored against the
    * probing query by cosine, the query itself excluded — an equi-join on
    * the key, so only the probed clusters are ever scored. Output (q_id,
    * neighbor_id, cos). */
  private def ivfSearch(c: DataFrame, cands: DataFrame, cent: DataFrame,
                        key: String): DataFrame =
    cands.join(broadcast(ivfProbes(c, cent, key)), Seq(key))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))

  /** The one centroid mean: `m`, the mean of `x` per `keys` group, over
    * 1e-6-quantized components summed as exact integers, NOT `avg` over
    * doubles: double summation is accumulation-order-dependent across
    * partitions and engines, and a last-ulp centroid wobble could flip a
    * probe ranking. Integer sums are associative, so the mean is
    * bit-identical under any partitioning and in the oracle. Every
    * centroid is this aggregate: [[labelCentroids]], [[trainCents]] and
    * both [[pqTrainBooks]] passes. */
  private def quantizedMean(rows: DataFrame, keys: String*): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg((sum(floor(col("x") * lit(1e6))).cast("double")
              / (count(lit(1)).cast("double") * lit(1e6))).as("m"))

  /** Per-label quantized-mean centroid table (label, cv, cn): element-wise
    * explode → [[quantizedMean]] → rebuild ordered by dim, with L2 norms.
    * Shared by [[annIvfTopk]], [[annRangeSearch]], [[annFilteredTopk]],
    * [[evalClustering]], [[embedCentroidOutliers]] and [[annIvfpqTopk]]. */
  private[operators] def labelCentroids(c: DataFrame): DataFrame =
    quantizedMean(c.select(col("label"), posexplode(col("v")).as(Seq("dim", "x"))),
                  "label", "dim")
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
                     s => s.getField("m")).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))

  /** DuckDB twin of [[labelCentroids]] — `cent`/`cent2` CTE chain on top
    * of `corpus`. */
  private val centSqlCtes: String =
    s"""cent AS (
       |  SELECT label, list(m ORDER BY dim) AS cv
       |  FROM (
       |    SELECT label, dim,
       |           CAST(SUM(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(*) * 1000000.0) AS m
       |    FROM (SELECT label, unnest(v) AS x,
       |                 unnest(generate_series(1, len(v))) AS dim
       |          FROM corpus)
       |    GROUP BY label, dim)
       |  GROUP BY label),
       |cent2 AS (SELECT label, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM cent)""".stripMargin

  /** DuckDB twin of [[ivfProbes]] — the probe ranking on top of the
    * centroid CTEs. */
  private val ivfProbesSqlCtes: String =
    s"""$centSqlCtes,
       |probes AS (
       |  SELECT q_id, qv, qn, label FROM (
       |    SELECT q_id, qv, qn, label,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, label ASC) AS crnk
       |    FROM qs CROSS JOIN cent2)
       |  WHERE crnk <= $NProbe)""".stripMargin

  val annIvfTopkSql: String =
    s"""WITH $corpusSql, $queriesSqlCte,
       |$ivfProbesSqlCtes,
       |scored AS (
       |  SELECT q_id, c.vec_id AS neighbor_id,
       |         ${dotSql("qv", "v")} / (qn * c.nrm) AS cos
       |  FROM corpus c JOIN probes p ON c.label = p.label AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $K""".stripMargin

  // --------------------------------------------------------- range search

  /** Cosine radius for [[annRangeSearch]]: the synthetic embeddings are
    * near-uniform on the sphere (max observed query cosine ≈ 0.40 at
    * sf0.01/sf0.1), so 0.25 is the radius that keeps the result set
    * non-trivial (~23 rows at sf0.01, ~83 at sf0.1) while staying
    * selective; a clustered production corpus would sit near 0.9. */
  private val RangeCos = 0.25

  /**
   * Range (radius) vector search [EXT] — the fixed-threshold complement
   * of top-k: ALL probed-cluster neighbors with cosine ≥ [[RangeCos]],
   * however many there are. Top-k answers "the best k matches"; range
   * search answers "everything this similar" — the primitive behind
   * duplicate sweeps ("every vector within ε"), recall audits, and
   * density estimates, where a fixed k silently truncates dense
   * neighborhoods and pads sparse ones.
   *
   * Scale shape: the coarse stage is [[ivfProbes]] unchanged (broadcast
   * centroid literals, NProbe probed lists per query); scoring touches
   * only probed-cluster rows via the equi-join on `label`, and the
   * threshold filter fuses into the scoring projection inside
   * whole-stage codegen — no window, no rank, no per-query sort at all,
   * which is precisely what makes range search CHEAPER than top-k at
   * 100 TB. Output size is data-dependent (dense neighborhoods return
   * more); a production sweep bounds it by tightening ε per density
   * tier, not by re-introducing a k.
   *
   * Determinism: quantized-integer centroids, L2R-fold dots, one IEEE
   * division per cosine — bit-identical across engines, so the ≥
   * threshold cut can never straddle an engine difference.
   */
  def annRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    ivfSearch(c, c, labelCentroids(c), "label").filter(col("cos") >= RangeCos)
  }

  /** Oracle: identical probe CTEs, the same threshold in place of the
    * rank window. */
  val annRangeSearchSql: String =
    s"""WITH $corpusSql, $queriesSqlCte,
       |$ivfProbesSqlCtes
       |SELECT q_id, c.vec_id AS neighbor_id,
       |       ${dotSql("qv", "v")} / (qn * c.nrm) AS cos
       |FROM corpus c JOIN probes p ON c.label = p.label AND c.vec_id <> p.q_id
       |WHERE ${dotSql("qv", "v")} / (qn * c.nrm) >= $RangeCos""".stripMargin

  // ------------------------------------------------------ filtered search

  /** Metadata predicate for the filtered search: corpus language. 'fr' is
    * ~13% of the synthetic corpus — selective enough that the pre-filter
    * visibly changes the result set, common enough that every probed list
    * still holds candidates. */
  private val FilterLang = "fr"

  /**
   * Metadata-filtered vector search [EXT] — top-k under a structured
   * predicate on a SEPARATE metadata table (`documents.lang`, joined on
   * vec_id = doc_id), the shape every production vector store must serve
   * ("nearest neighbors among French documents"). This is strict
   * PRE-filtering: the predicate is applied to the candidate set before
   * ranking, so recall over the allowed subset is never sacrificed — the
   * post-filter alternative (search first, filter the top-k) silently
   * returns < k or misses allowed neighbors entirely when the predicate is
   * selective.
   *
   * Scale shape: the probe stage is [[ivfProbes]] unchanged (centroids
   * don't depend on the predicate); the allowed-id set is a projection of
   * the metadata scan (doc_id + the predicate column only — column
   * pruning keeps the text out) applied to the corpus as a LEFT SEMI join
   * before scoring. At this selectivity Spark broadcasts the allowed set;
   * at 100 TB with a billion-row allowed list the same plan degrades
   * gracefully to a shuffled semi-join or an AQE-injected bloom filter —
   * the declarative form is what lets Catalyst pick. Only probed-list ∩
   * allowed rows ever reach the cosine.
   *
   * Determinism: same quantized centroids and L2R-fold cosines as
   * [[annIvfTopk]]; ties break (cos DESC, neighbor_id ASC).
   */
  def annFilteredTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val allowed = t(spark, dir, "documents")
      .filter(col("lang") === FilterLang)
      .select(col("doc_id").as("vec_id"))
    nearestK(ivfSearch(c, c.join(allowed, Seq("vec_id"), "left_semi"),
                       labelCentroids(c), "label"))
  }

  /** Oracle: identical probe CTEs; the pre-filter is an IN-subquery
    * (DuckDB's semi-join spelling) against the same metadata projection. */
  val annFilteredTopkSql: String =
    s"""WITH $corpusSql, $queriesSqlCte,
       |$ivfProbesSqlCtes,
       |allowed AS (SELECT doc_id AS vec_id FROM documents WHERE lang = '$FilterLang'),
       |scored AS (
       |  SELECT q_id, c.vec_id AS neighbor_id,
       |         ${dotSql("qv", "v")} / (qn * c.nrm) AS cos
       |  FROM corpus c JOIN probes p ON c.label = p.label AND c.vec_id <> p.q_id
       |  WHERE c.vec_id IN (SELECT vec_id FROM allowed)),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $K""".stripMargin

  // -------------------------------------------------------- hard negatives

  /**
   * Hard-negative mining [EXT] — for each query vector, the top-k most
   * cosine-similar corpus vectors with a DIFFERENT label: the
   * contrastive-training data op (DPR/SimCSE-style) that makes embedding
   * models learn boundaries instead of easy contrasts. "Similar but
   * semantically different" is exactly what a random negative sampler
   * never finds and what dominates contrastive-loss gradients.
   *
   * Scale shape: the exact baseline — query set broadcast against one
   * corpus scan with the label-inequality predicate applied BEFORE
   * ranking (same shape as [[annBruteforceTopk]]; at 100 TB the
   * candidate stage swaps to the probed-list equi-join of
   * [[annIvfTopk]], probing extra lists since hard negatives live near
   * cluster boundaries). Top-k per query is a partitioned window.
   *
   * Determinism: same L2R cosines; ties break (cos DESC, neg_id ASC).
   */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
              col("v").as("qv"), col("nrm").as("qn"))
    val scored = c.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id").as("neg_id"),
              col("label").as("neg_label"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
    topK(scored, "q_id", K, "rnk", col("cos").desc, col("neg_id").asc)
      .select(col("q_id"), col("q_label"), col("rnk"),
              col("neg_id"), col("neg_label"), col("cos"))
  }

  /** Oracle: label-carrying query CTE, label-inequality join, identical
    * ranking. */
  val annHardNegativesSql: String =
    s"""WITH $corpusSql,
       |qh AS (
       |  SELECT vec_id AS q_id, label AS q_label, v AS qv, nrm AS qn
       |  FROM corpus WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q_id, q_label, c.vec_id AS neg_id, c.label AS neg_label,
       |         ${dotSql("qv", "v")} / (qh.qn * c.nrm) AS cos
       |  FROM corpus c JOIN qh ON c.label <> qh.q_label),
       |ranked AS (
       |  SELECT q_id, q_label, neg_id, neg_label, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, q_label, CAST(rnk AS INT) AS rnk, neg_id, neg_label, cos
       |FROM ranked WHERE rnk <= $K""".stripMargin

  // ------------------------------------------------------- clustering eval

  /** Silhouette quantization: integer micro-units so the per-label mean
    * is an exact associative integer sum + ONE double division. */
  private val SilScale = 1000000L

  /**
   * Clustering-quality evaluation [EXT] — simplified silhouette of the
   * corpus labeling (the centroid-based variant: a = cosine distance to
   * the own-label centroid, b = min distance to any other centroid,
   * s = (b−a)/max(a,b)). The eval-family gate for every clustering this
   * library produces (IVF lists, k-means, SemDeDup clusters): per-label
   * mean silhouette and the count of negative-silhouette (misassigned)
   * vectors. Simplified silhouette is the standard scale substitute for
   * the O(n²) exact one — per vector it needs only the k centroids.
   *
   * Scale shape: the centroid fit is the shared [[labelCentroids]]
   * aggregation; the k-row table is collected and baked into the
   * projection as literals (the IVF-centroid / PQ-codebook pattern), so
   * the evaluation itself is a ZERO-join map over the corpus — k dot
   * products per row inside codegen — followed by one label rollup.
   * At a k where literal baking stops making sense the same arithmetic
   * becomes a broadcast join on the centroid table.
   *
   * Determinism: centroids are quantized-integer means (bit-identical
   * re-derived in the oracle), distances fold L2R, the min over other
   * centroids is order-independent, and per-vector s quantizes to
   * [[SilScale]] units before the label sum.
   */
  def evalClustering(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val cents = labelCentroids(c).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1)
    require(cents.length >= 2, "silhouette needs >= 2 clusters")
    // den = 0 (a zero vector or a zero centroid) must yield NaN distance
    // EXPLICITLY: Spark's ANSI double division ERRORS on /0 and DuckDB's
    // returns NULL — neither is the shared degenerate-geometry contract
    // (NaN, so the isnan pin below fires identically in both engines).
    val withD = c.select(col("vec_id") +: col("label") +:
      cents.toIndexedSeq.map { case (li, cv, cn) =>
        val den = col("nrm") * lit(cn)
        when(den === 0.0, lit(Double.NaN))
          .otherwise(lit(1.0) - dot(col("v"), typedLit(cv)) / den)
          .as(s"d_$li")
      }: _*)
    val da = cents.tail.foldLeft(
      when(col("label") === cents.head._1, col(s"d_${cents.head._1}"))) {
        case (acc, (li, _, _)) => acc.when(col("label") === li, col(s"d_$li"))
      }
    // own-label sentinel is NaN, not Double.MaxValue: Spark's least()
    // ranks NaN above every finite double, so the sentinel is skipped
    // whenever ANY other-centroid distance is finite — and when they are
    // ALL NaN (zero centroids in degenerate geometry), db itself is NaN,
    // which the isnan pin below catches. That is exactly DuckDB's
    // NULL-excluded conditional MIN (NaN sorts greatest there too), so
    // both engines pin the same rows; a MaxValue sentinel would instead
    // leak s_fp ≈ +1e6 on the Spark side in the all-NaN case.
    val db = least(cents.toIndexedSeq.map { case (li, _, _) =>
      when(col("label") === li, lit(Double.NaN)).otherwise(col(s"d_$li"))
    }: _*)
    // degenerate geometry (a vector ON both its own and the nearest other
    // centroid, or a zero centroid making a distance NaN) has an undefined
    // silhouette — pinned to 0 identically in BOTH engines, since Spark's
    // CAST(NaN AS LONG) yields 0 silently while DuckDB's errors
    withD.select(col("label"), da.as("da"), db.as("db"))
      .select(col("label"), expr(
        s"""CASE WHEN greatest(da, db) <= 0 OR isnan(greatest(da, db)) THEN 0L
           |ELSE CAST(round((db - da) / greatest(da, db) * $SilScale) AS LONG)
           |END""".stripMargin).as("s_fp"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
           round(sum(col("s_fp")).cast("double") / SilScale.toDouble
                   / count(lit(1)), 6).as("mean_silhouette"),
           sum(when(col("s_fp") < 0, 1L).otherwise(0L)).as("n_negative"))
  }

  /** Oracle: same centroid CTEs re-derived relationally (bit-identical —
    * integer-quantized means, single double division, L2R dots), a/b as
    * conditional MINs over the corpus × centroid cross join, identical
    * micro-unit rounding before the label rollup. */
  val evalClusteringSql: String =
    s"""WITH $corpusSql, $centSqlCtes,
       |d AS (
       |  SELECT c.vec_id, c.label AS lbl, t.label AS cl,
       |         CASE WHEN nrm * cn = 0 THEN CAST('nan' AS DOUBLE)
       |              ELSE 1 - ${dotSql("v", "cv")} / (nrm * cn) END AS dist
       |  FROM corpus c CROSS JOIN cent2 t),
       |ab AS (
       |  SELECT vec_id, lbl,
       |         MIN(CASE WHEN cl = lbl THEN dist END) AS da,
       |         MIN(CASE WHEN cl <> lbl THEN dist END) AS db
       |  FROM d GROUP BY 1, 2),
       |s AS (
       |  SELECT lbl AS label,
       |         CASE WHEN GREATEST(da, db) <= 0 OR isnan(GREATEST(da, db))
       |              THEN CAST(0 AS BIGINT)
       |              ELSE CAST(round((db - da) / GREATEST(da, db) * $SilScale) AS BIGINT)
       |         END AS s_fp
       |  FROM ab)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  round(CAST(SUM(s_fp) AS BIGINT) / $SilScale.0 / COUNT(*), 6) AS mean_silhouette,
       |  CAST(SUM(CASE WHEN s_fp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
       |FROM s GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- k-means

  /** Lloyd iterations for the k-means IVF variant. Fixed count (no
    * convergence test) so the computation is a pure function of the data —
    * a convergence loop would still be deterministic here, but a fixed
    * unroll is what lets the DuckDB oracle mirror it CTE-for-CTE.
    * 1 (was 2, r11): each step costs one centroid aggregation job plus
    * one assignment projection whose k·dim centroid literals compile as
    * a fresh codegen unit — a fixed per-step price both here and in
    * [[dedupSemantic]]. One refinement step over the label-seeded
    * centroids is still k-means (seeded init + Lloyd refinement); the
    * oracle CTE chain derives from this constant, so both engines move
    * together. */
  private val KmIters = 1

  /** One collected centroid: id, vector, norm. k is tiny (the coarse
    * quantizer), so centroids always travel as plan literals. */
  private[operators] case class Cent(cluster: Long, cv: Seq[Double], cn: Double)

  /** Nearest-centroid assignment (argmax cosine, ties to the smaller
    * cluster id) as a ZERO-SHUFFLE map: one native
    * [[graft.functions.NearestCentroid]] expression per row, the k
    * centroids riding in the codegen references array — at 100 TB
    * assignment must be scan-local, and the constant-size generated code
    * lets the projection fuse into ANY downstream whole-stage-codegen
    * stage (a join's consume path included) without blowing the JIT
    * method limit. History: r8 replaced the crossJoin + window
    * formulation (an n·k-row shuffle per Lloyd step) with k·dim literal
    * arrays + `array_max`; r11 replaced the literal arrays with the
    * native expression after measuring the literal codegen falling out
    * of JIT compilation when fused into the candidate join (~0.9 s for
    * a 2000-row join stage). Same argmax, bit-identical scores. */
  private def kmAssign(c: DataFrame, cents: Seq[Cent]): DataFrame =
    c.withColumn("cluster",
        graft.functions.VectorFunctions.nearestCentroid(
          col("v"), col("nrm"),
          cents.map(_.cv.toArray).toArray,
          cents.map(_.cn).toArray,
          cents.map(_.cluster).toArray))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("cluster"))

  /** Driver-side assembly of a collected (keys…, dim, m) [[quantizedMean]]
    * table into dim-ordered vectors, sorted by key. The table is k·dim
    * rows at any corpus scale, so this skips the `collect_list` +
    * `array_sort` shuffle stage [[labelCentroids]] pays. Serves
    * [[trainCents]] and both [[pqTrainBooks]] passes (so the k-means and
    * PQ queries). */
  private def collectVectors(means: DataFrame): Seq[(Seq[Long], Seq[Double])] = {
    val nk = means.columns.length - 2
    means.collect().toSeq
      .groupBy(r => (0 until nk).map(r.getAs[Number](_).longValue())) // label arrives int32
      .map { case (k, rs) =>
        (k: Seq[Long], rs.sortBy(_.getAs[Number](nk).longValue()).map(_.getDouble(nk + 1))) }
      .toSeq.sortBy(_._1)(Ordering.Implicits.seqOrdering)
  }

  /** One Lloyd centroid training pass, collected to literal form: the
    * (cluster, dim) [[quantizedMean]] (map-side partial sums, one
    * k·dim-row shuffle) assembled by [[collectVectors]], with norms.
    * Bit-identical to [[labelCentroids]] + collect: `m` is the same
    * exact-integer-sum double, the dim sort is the same total order, and
    * the norm is the same strictly left-to-right fold ([[dot]] semantics)
    * in IEEE doubles. Sorted by cluster for a stable plan. Every step of
    * [[kmeansCents]] (so [[annKmeansTopk]] and [[dedupSemantic]]). */
  private[operators] def trainCents(assigned: DataFrame): Seq[Cent] =
    collectVectors(quantizedMean(
        assigned.select(col("cluster"), posexplode(col("v")).as(Seq("dim", "x"))),
        "cluster", "dim"))
      .map { case (Seq(cl), cv) =>
        var acc = 0.0
        cv.foreach(x => acc += x * x) // left-to-right, same fold as dot(cv, cv)
        Cent(cl, cv, math.sqrt(acc))
      }

  /** Seeded k-means, the one Lloyd loop of [[annKmeansTopk]] and
    * [[dedupSemantic]]: centroids start from the label partition (the
    * [[annIvfTopk]] quantizer), then [[KmIters]] steps of assign
    * ([[kmAssign]]) and re-mean ([[trainCents]]), one collect each. */
  private def kmeansCents(c: DataFrame): Seq[Cent] =
    (1 to KmIters).foldLeft(trainCents(c.select(col("label").as("cluster"), col("v")))) {
      (cents, _) => trainCents(kmAssign(c, cents).select(col("cluster"), col("v")))
    }

  /** The collected centroids back as a (broadcastable) k-row DataFrame,
    * encoded via tuples: `createDataset(Seq[Cent])` on the then-private
    * Cent left Janino unable to reach its getters, and Spark silently
    * fell back to interpreted row encoding (a CompileException per query
    * at every scale). */
  private def centDf(spark: SparkSession, cents: Seq[Cent]): DataFrame = {
    import spark.implicits._
    cents.map(ct => (ct.cluster, ct.cv, ct.cn)).toDF("cluster", "cv", "cn")
  }

  /**
   * IVF over iterated k-means coarse clusters: initialize centroids from
   * the label partition (the [[annIvfTopk]] quantizer), run [[KmIters]]
   * Lloyd steps (assign to nearest centroid → recompute quantized means),
   * then probe-and-search exactly like IVF — queries rank the final
   * centroids, candidates arrive via an equi-join on the final cluster
   * assignment.
   *
   * Scale shape: each Lloyd step is one ZERO-SHUFFLE assignment scan
   * (centroids baked into the projection as literals — see [[kmAssign]])
   * plus one centroid re-aggregation with map-side partial sums, its
   * k-row result collected to the driver (the classic Spark k-means
   * dataflow — collect-and-rebroadcast per step, which also keeps the
   * final plan shallow). At 100 TB the per-step cost is a linear scan —
   * no n·k shuffle, no all-pairs anything.
   */
  def annKmeansTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val cents = kmeansCents(c)
    nearestK(ivfSearch(c, kmAssign(c, cents), centDf(spark, cents), "cluster"))
  }

  /** Oracle: the same fixed Lloyd unroll, CTE-for-CTE. Centroid CTE i is a
    * function of assignment CTE i (assignment 0 = the label column), so
    * the chain is mechanical; all arithmetic mirrors the Spark side
    * bit-for-bit (quantized integer sums, double division, identical
    * tie-breaks). */
  private def kmCentSql(name: String, src: String): String =
    s"""$name AS (
       |  SELECT cluster, list(m ORDER BY dim) AS cv
       |  FROM (
       |    SELECT cluster, dim,
       |           CAST(SUM(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(*) * 1000000.0) AS m
       |    FROM (SELECT cluster, unnest(v) AS x,
       |                 unnest(generate_series(1, len(v))) AS dim
       |          FROM $src)
       |    GROUP BY cluster, dim)
       |  GROUP BY cluster),
       |${name}n AS (SELECT cluster, cv, sqrt(${dotSql("cv", "cv")}) AS cn FROM $name)""".stripMargin

  private def kmAsgSql(name: String, centN: String): String =
    s"""$name AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT c.vec_id, ct.cluster,
       |           row_number() OVER (PARTITION BY c.vec_id
       |             ORDER BY ${dotSql("c.v", "ct.cv")} / (c.nrm * ct.cn) DESC,
       |                      ct.cluster ASC) AS arnk
       |    FROM corpus c CROSS JOIN $centN ct)
       |  WHERE arnk = 1)""".stripMargin

  /** The last-iteration centroid CTE name of [[kmChainSql]]. */
  private val kmLastCent = s"cent${KmIters}n"

  /** The full Lloyd-unroll CTE chain (cent0 → asg/cent iterations →
    * final_asg), shared verbatim by [[annKmeansTopkSql]] and
    * [[dedupSemanticSql]]. Expects `corpus` to be in scope. */
  private def kmChainSql: String = {
    val iters = (1 to KmIters).map { i =>
      kmAsgSql(s"asg$i", s"cent${i - 1}n") + ",\n" +
        kmCentSql(s"cent$i", s"corpus c JOIN asg$i USING (vec_id)")
    }.mkString(",\n")
    s"""${kmCentSql("cent0", "(SELECT label AS cluster, v FROM corpus) c")},
       |$iters,
       |final_asg AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT c.vec_id, ct.cluster,
       |           row_number() OVER (PARTITION BY c.vec_id
       |             ORDER BY ${dotSql("c.v", "ct.cv")} / (c.nrm * ct.cn) DESC,
       |                      ct.cluster ASC) AS arnk
       |    FROM corpus c CROSS JOIN $kmLastCent ct)
       |  WHERE arnk = 1)""".stripMargin
  }

  val annKmeansTopkSql: String = {
    val last = kmLastCent
    s"""WITH $corpusSql, $queriesSqlCte,
       |$kmChainSql,
       |probes AS (
       |  SELECT q_id, qv, qn, cluster FROM (
       |    SELECT q_id, qv, qn, cluster,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${dotSql("qv", "cv")} / (qn * cn) DESC, cluster ASC) AS crnk
       |    FROM qs CROSS JOIN $last)
       |  WHERE crnk <= $NProbe),
       |scored AS (
       |  SELECT q_id, c.vec_id AS neighbor_id,
       |         ${dotSql("qv", "c.v")} / (qn * c.nrm) AS cos
       |  FROM corpus c
       |  JOIN final_asg fa ON fa.vec_id = c.vec_id
       |  JOIN probes p ON p.cluster = fa.cluster AND c.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $K""".stripMargin
  }

  // ------------------------------------------------------------------ LSH

  /** Hyperplane count for sign-bucket LSH (one band). */
  private val NPlanes = 8

  /** Bands for the multi-band OR blocking in [[dedupEmbedding]]: 4 bands
    * of 8 planes each (32 planes total; band 0 = [[planes]], so
    * [[annLshBuckets]]'s surface is unchanged). */
  private[operators] val NumBands = 4

  /** Deterministic pseudo-random hyperplanes derived from md5 so both
    * engines materialize the same matrix: h[j][i] ∈ [-1, 1). Baked into
    * the plan as literals (32×64 doubles — broadcast-trivial). */
  private[operators] val allPlanes: Seq[Seq[Double]] =
    (0 until NumBands * NPlanes).map { j =>
      (0 until 64).map { i =>
        (md5LongOf(s"plane_${j}_$i".getBytes("UTF-8")) % 2000001L) / 1000000.0 - 1.0
      }
    }

  /** Band 0 — the original single-table planes. */
  private[operators] val planes: Seq[Seq[Double]] = allPlanes.take(NPlanes)

  /** Sign-bit bucket of a vector under band `b`'s 8 hyperplanes:
    * bit j = 1 iff dot(v, h_(8b+j)) > 0. Angular LSH — near-parallel
    * vectors agree on most sign bits, so near-dups land in the same
    * bucket. */
  private def bandBucket(b: Int, v: Column): Column =
    (0 until NPlanes).map { j =>
      val planeLit = array(allPlanes(b * NPlanes + j).map(lit): _*)
      when(dot(v, planeLit) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def bandBucketSql(b: Int, v: String): String =
    (0 until NPlanes).map { j =>
      val planeLit = allPlanes(b * NPlanes + j).mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql(v, planeLit)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Band-0 bucket — the original single-table LSH surface. */
  private def lshBucket(v: Column): Column = bandBucket(0, v)
  private def lshBucketSql(v: String): String = bandBucketSql(0, v)

  /** LSH bucket table: one scan, 8 fused dot products per row, no shuffle.
    * The bucket histogram is the output (grouped) so the oracle check
    * covers every vector's bucket assignment. */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .select(col("vec_id"), lshBucket(col("v")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"))

  val annLshBucketsSql: String =
    s"""WITH $corpusSql,
       |b AS (SELECT vec_id, ${lshBucketSql("v")} AS bucket FROM corpus)
       |SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
       |FROM b GROUP BY bucket""".stripMargin

  // ------------------------------------------------------ multi-probe LSH

  /**
   * Multi-probe LSH search [EXT] (Lv et al., VLDB 2007) — the recall
   * lever that does NOT cost more tables: each query searches its own
   * sign-bucket PLUS the [[NPlanes]] Hamming-1 buckets (one sign bit
   * flipped), because a near neighbor that disagrees on exactly one
   * hyperplane lands exactly one bit away. Single-probe LSH must add
   * whole hash tables (memory ∝ tables) to recover that recall;
   * multi-probe adds probe JOINS instead (work ∝ probes) — the standard
   * trade on a storage-bound corpus.
   *
   * Scale shape: the corpus is bucketed ONCE by the 8-bit signature (a
   * zero-shuffle map, the [[annLshBuckets]] layout); each query explodes
   * into its 9 probe buckets and the candidate set arrives via an
   * equi-join on the bucket id — only probed buckets are ever scored,
   * ~9/256 of the corpus at uniform occupancy. Exact cosine rescoring +
   * per-query top-[[K]] with the family's deterministic tiebreak.
   *
   * Determinism: signatures are exact sign tests on md5-derived plane
   * literals; cosines are L2R folds; ranking ties break on neighbor_id.
   */
  def annMultiprobeLsh(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
      .withColumn("bucket", lshBucket(col("v")))
    val probes = c.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array((lit(-1) +: (0 until NPlanes).map(lit(_))): _*)).as("flip"),
        col("bucket"))
      .select(col("q_id"), col("qv"), col("qn"),
        when(col("flip") === -1, col("bucket"))
          .otherwise(expr(s"bucket ^ shiftleft(1L, flip)")).as("bucket"))
    nearestK(c.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos")))
  }

  /** Oracle: identical bucket table, the probe set as an unnested flip
    * list, identical rescoring and rank cut. */
  val annMultiprobeLshSql: String = {
    val flips = (-1 until NPlanes).mkString("[", ", ", "]")
    s"""WITH $corpusSql,
       |b AS (SELECT vec_id, v, nrm, ${lshBucketSql("v")} AS bucket FROM corpus),
       |qp AS (
       |  SELECT vec_id AS q_id, v AS qv, nrm AS qn,
       |         CASE WHEN flip = -1 THEN bucket
       |              ELSE xor(bucket, CAST(1 AS BIGINT) << flip) END AS bucket
       |  FROM b, unnest($flips::INT[]) AS t(flip)
       |  WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q_id, b.vec_id AS neighbor_id,
       |         ${dotSql("qv", "b.v")} / (qn * b.nrm) AS cos
       |  FROM b JOIN qp ON b.bucket = qp.bucket AND b.vec_id <> qp.q_id),
       |ranked AS (
       |  SELECT q_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos
       |FROM ranked WHERE rnk <= $K""".stripMargin
  }

  // --------------------------------------------------------- quantization

  /**
   * Scalar int8 quantization of the embedding column [EXT] — the storage
   * path at 100 TB (4 bytes/dim float → 1 byte/dim + one scale): per
   * vector, scale = max |x|, q_i = floor(x_i/scale·127 + 0.5) ∈ [-127,127],
   * with exact-integer checksums (Σq, Σq²) and the reconstruction MSE.
   * Zero-shuffle single scan.
   *
   * Determinism: the quantizer uses floor(·+0.5), not round() — Spark
   * and DuckDB round() disagree on doubles (HALF_UP vs half-even), floor
   * is bit-identical; the MSE folds strictly left-to-right like every
   * other vector reduction in this file. Zero vectors (none in this
   * corpus, guarded anyway) quantize to all-zero with mse 0.
   */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", when(col("scale") === 0,
          transform(col("v"), _ => lit(0L)))
        .otherwise(transform(col("v"),
          x => floor(x / col("scale") * lit(127.0) + lit(0.5)))))
      .withColumn("dq", transform(col("q"),
          y => y.cast("double") * col("scale") / lit(127.0)))
      .select(col("vec_id"), col("label"), col("scale"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_norm2"),
        (aggregate(zip_with(col("v"), col("dq"), (x, y) => (x - y) * (x - y)),
                   lit(0.0), (a, x) => a + x) / size(col("v"))).as("mse"))

  val embedQuantizeSql: String =
    """WITH c AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (
      |  SELECT vec_id, label, v,
      |         list_max(list_transform(v, x -> abs(x))) AS scale
      |  FROM c),
      |q AS (
      |  SELECT vec_id, label, v, scale,
      |         CASE WHEN scale = 0
      |              THEN list_transform(v, x -> CAST(0 AS BIGINT))
      |              ELSE list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))
      |         END AS q
      |  FROM s),
      |d AS (
      |  SELECT vec_id, label, v, scale, q,
      |         list_transform(q, y -> CAST(y AS DOUBLE) * scale / 127.0) AS dq
      |  FROM q)
      |SELECT vec_id, label, scale,
      |  CAST(list_sum(q) AS BIGINT) AS q_sum,
      |  CAST(list_sum(list_transform(q, y -> y * y)) AS BIGINT) AS q_norm2,
      |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(list_zip(v, dq), p -> (p[1] - p[2]) * (p[1] - p[2]))),
      |    (acc, x) -> acc + x) / len(v) AS mse
      |FROM d""".stripMargin

  // --------------------------------------------------------- gram matrix

  /** Component quantization scale for the Gram accumulation. Components
    * are unit-norm-scaled (|x| < 1 in this corpus, and any production
    * embedding normalizes first), so q ≤ 1e6 and a product ≤ 1e12 —
    * int64-safe through ~9e6 vectors per partial sum. At 100 TB the
    * partial aggregates re-aggregate hierarchically (per-shard Gram
    * matrices are d²-row tables that SUM exactly), so the bound is
    * per-shard, not global. */
  private val GramScale = 1000000.0

  /** The [[GramScale]] component quantizer, shared by the Gram fit and
    * the PCA projection — one definition so the fit and the transform
    * can never desynchronize. */
  private def gramQuantize(embedding: Column): Column =
    transform(embedding.cast("array<double>"),
      x => floor(x * lit(GramScale) + lit(0.5)).cast("long"))

  /**
   * Exact Gram matrix of the embedding corpus [EXT] — the Σ xxᵀ
   * accumulation every PCA / whitening / OPQ-rotation fit starts from
   * (d=64 → 2080 upper-triangle cells). This is the aggregation-side
   * half of dimensionality reduction: at 100 TB the Gram matrix is the
   * ONLY corpus-wide statistic the fit needs, and it reduces in one
   * pass.
   *
   * Scale shape: quantize each component once, expand the d²/2 cell
   * products MAP-SIDE via two positional explodes (the d² work is the
   * required FLOPs of any Gram computation), and aggregate by (i, j)
   * with map-side partial combine — the shuffle carries only
   * 2080-cell partial sums per task, never the corpus. Zero joins.
   *
   * Determinism: products and sums are int64 in [[GramScale]]² units —
   * associative and bit-identical cross-engine, where a double
   * accumulation would be partitioning-order-dependent.
   */
  def embedGram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(gramQuantize(col("embedding")).as("q"))
      .select(col("q"), posexplode(col("q")))
      .select(col("pos").cast("long").as("i"), col("col").as("qi"),
              posexplode(col("q")))
      .filter(col("pos") >= col("i"))
      .groupBy(col("i"), col("pos").cast("long").as("j"))
      .agg(count(lit(1)).as("n_vecs"),
           sum(col("qi") * col("col")).as("gram_q"))

  /** Oracle CTEs shared by [[embedGramSql]] and [[embedPcaProjectSql]]:
    * zip-unnest (value, index) then a per-vector self-join on the index
    * pair — the relational spelling of the same cell products; DuckDB's
    * HUGEINT sum is cast back to the int64 the Spark side is bounded to.
    * `gq` (quantized vectors) and `gram` (upper-triangle cells) are the
    * reusable pieces. */
  private val gramSqlCtes: String =
    s"""gq AS (
       |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |    x -> CAST(floor(x * $GramScale + 0.5) AS BIGINT)) AS ql
       |  FROM embeddings),
       |gx AS (
       |  SELECT vec_id, unnest(ql) AS qv,
       |         unnest(range(0, len(ql))) AS i
       |  FROM gq),
       |gram AS (
       |  SELECT a.i AS i, b.i AS j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |    CAST(SUM(a.qv * b.qv) AS BIGINT) AS gram_q
       |  FROM gx a JOIN gx b USING (vec_id)
       |  WHERE b.i >= a.i GROUP BY 1, 2)""".stripMargin

  val embedGramSql: String =
    s"""WITH $gramSqlCtes
       |SELECT i, j, n_vecs, gram_q FROM gram""".stripMargin

  // -------------------------------------------------- PCA power iteration

  /** Power-iteration rounds for the leading principal direction. Fixed
    * unroll (like [[KmIters]]) so the oracle can mirror the iteration
    * CTE-for-CTE; three rounds on a 64×64 Gram are enough to make the
    * projection a real dominant-direction score without convergence
    * tests that a relational twin cannot express. */
  private val PcaRounds = 3

  /**
   * PCA fit + transform [EXT] — the downstream half of [[embedGram]]:
   * power-iterate the collected Gram matrix to the leading principal
   * direction, then project every embedding onto it. This is the
   * fit/transform split every 100 TB dimensionality-reduction pass has:
   * the FIT consumes only the d²-cell Gram (driver-side on 2080 cells —
   * the same k-row collect-and-rebroadcast pattern as the IVF centroids
   * and PQ codebooks; the matrix never grows with the corpus), and the
   * TRANSFORM is a zero-shuffle map-side projection with the direction
   * baked into the plan as a literal.
   *
   * Determinism: the iteration is exact integer arithmetic — BigInt
   * matrix-vector products renormalized to [[GramScale]] units by
   * TRUNCATED division (toward zero; `BigInt./` here, `//` on HUGEINT in
   * DuckDB — verified to agree on negatives), from the all-ones start.
   * Sign is pinned by the deterministic start; no eigensolver wobble.
   * The projection is a strict L2R integer fold: |q·v| ≤ d·10¹² ≪ 2⁶³.
   */
  def embedPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val cells = embedGram(spark, dir).collect()
    require(cells.nonEmpty, "embed_pca_project needs a non-empty embeddings table")
    val d = (cells.map(_.getLong(0)).max + 1).toInt
    val g = Array.ofDim[Long](d, d)
    cells.foreach { r =>
      val i = r.getLong(0).toInt; val j = r.getLong(1).toInt
      g(i)(j) = r.getLong(3); g(j)(i) = r.getLong(3)
    }
    val one = BigInt(GramScale.toLong)
    var v = Array.fill(d)(one)
    for (_ <- 1 to PcaRounds) {
      val w = Array.tabulate(d) { i =>
        var acc = BigInt(0); var j = 0
        while (j < d) { acc += BigInt(g(i)(j)) * v(j); j += 1 }
        acc
      }
      val m = w.map(_.abs).max
      // all-zero Gram has no principal direction; keep v (oracle-inert:
      // the synthetic and crafted corpora always have signal)
      if (m.signum != 0) v = w.map(x => x * one / m)
    }
    val vLit = array(v.toIndexedSeq.map(x => lit(x.toLong)): _*)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        gramQuantize(col("embedding")).as("q"))
      .select(col("vec_id"), col("label"),
        aggregate(zip_with(col("q"), vLit, (a, b) => a * b),
                  lit(0L), (acc, x) => acc + x).as("pc1_q"))
  }

  /** Oracle: the Gram CTEs, mirrored to a full matrix, then the identical
    * integer power iteration unrolled round-for-round in HUGEINT (BIGINT
    * products overflow at Gram-cell × unit scale), truncated-dividing by
    * the max |component| each round; the projection re-joins the
    * quantized components against the final direction. */
  val embedPcaProjectSql: String = {
    def round(k: Int): String =
      s"""w$k AS (
         |  SELECT g.i, SUM(CAST(g.gram_q AS HUGEINT) * v.v) AS w
         |  FROM gfull g JOIN v${k - 1} v ON v.j = g.j GROUP BY 1),
         |v$k AS (
         |  SELECT i AS j, w * ${GramScale.toLong} // (SELECT MAX(abs(w)) FROM w$k) AS v
         |  FROM w$k)""".stripMargin
    s"""WITH $gramSqlCtes,
       |gfull AS (
       |  SELECT i, j, gram_q FROM gram
       |  UNION ALL
       |  SELECT j AS i, i AS j, gram_q FROM gram WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS j, CAST(${GramScale.toLong} AS HUGEINT) AS v FROM gfull),
       |${(1 to PcaRounds).map(round).mkString(",\n")}
       |SELECT gx.vec_id, e.label, CAST(SUM(gx.qv * CAST(v.v AS BIGINT)) AS BIGINT) AS pc1_q
       |FROM gx JOIN v$PcaRounds v ON v.j = gx.i
       |JOIN embeddings e ON e.vec_id = gx.vec_id
       |GROUP BY 1, 2""".stripMargin
  }

  // ------------------------------------------------- product quantization

  /** PQ geometry: [[PqM]] subspaces of [[PqSubDim]] dims (the corpus
    * embeddings are 64-wide), [[PqK]] codes per subspace → 32 bits per
    * vector (production PQ at 8 bits × 8-16 subspaces is the same shape;
    * k is held at 16 so codebooks stay meaningful on a 500-5000-vector
    * training set). */
  private val PqM = 8
  private val PqK = 16
  private val PqSubDim = 8

  /** 1-based subvector slice for subspace m. */
  private def pqSub(m: Int, v: Column): Column =
    slice(v, m * PqSubDim + 1, PqSubDim)
  private def pqSubSql(m: Int, v: String): String =
    s"$v[${m * PqSubDim + 1} : ${(m + 1) * PqSubDim}]"

  /** Strict left-to-right squared-L2 fold — the PQ training metric. */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, x) => acc + x)
  private def l2sqSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2]))), (acc, x) -> acc + x)"

  /** One subspace codebook as a SINGLE literal array-of-structs (cv, c)
    * in code order — the argmin/LUT lambdas iterate it with `transform`,
    * so the distance arithmetic appears ONCE in the plan instead of
    * unrolled k×. The arithmetic was interpreted either way (l2sq is a
    * higher-order fold, which never enters whole-stage codegen); what
    * the unrolled form paid k× for was Janino compile time of the
    * projection shell — measured 2.3–2.9 s per PQ query at sf0.001,
    * i.e. pure compile, which this removes without adding a shuffle. */
  private def bookLit(cents: Seq[(Long, Seq[Double])]): Column =
    array(cents.map { case (code, cv) =>
      struct(array(cv.map(lit): _*).as("cv"), lit(code).as("c"))
    }: _*)

  /** All-m PQ code assignment as ONE native projection column: the
    * codebooks ride the codegen references array
    * ([[graft.functions.PqAssign]]). Replaces the per-subspace
    * `array_min(transform(bookLit, …))` stacks — 8 × 16 interpreted
    * l2sq lambda folds per row — with one JIT-compiled triple loop;
    * bit-identical argmin (same left-to-right (x−c)² fold, same
    * nan-safe tie-to-smaller-code order). */
  private def pqCodes(v: Column, books: Seq[Seq[(Long, Seq[Double])]]): Column =
    graft.functions.VectorFunctions.pqAssign(v,
      books.map(_.map(_._2.toArray).toArray).toArray,
      books.map(_.map(_._1).toArray).toArray, PqSubDim)

  /** PQ codebook training over ANY (vec_id, v) table — [[annPqTopk]]
    * trains on raw vectors, [[annIvfpqTopk]] on coarse residuals.
    *
    * cent0 builds all subspaces in ONE aggregation: the init partition
    * (vec_id % k — uncorrelated with geometry ≙ standard PQ random
    * init, deterministic and oracle-reproducible) is shared by every
    * subspace, so the per-(cluster, dim) quantized means of the full
    * 64-dim vector slice into the 8 subspace codebooks for free.
    * (The first formulation aggregated each subspace separately:
    * 16 shuffles + 16 collects, measured 4.9 s → 2.6 s fused.)
    * Then ONE Lloyd step: all 8 per-subspace argmin assignments in one
    * zero-shuffle projection, and all 8 codebooks re-estimated in ONE
    * aggregation keyed by (subspace, code, dim-in-subspace) — the same
    * partitions as per-subspace (code, dim), so every mean is
    * bit-identical to the oracle's per-subspace CTEs. Both passes are a
    * [[quantizedMean]] assembled on the driver by [[collectVectors]]. */
  private def pqTrainBooks(cIn: DataFrame): Seq[Seq[(Long, Seq[Double])]] = {
    val base = cIn.select(col("vec_id"), col("v"))
    val c0 = collectVectors(quantizedMean(base
      .select((col("vec_id") % PqK).cast("long").as("cluster"),
              posexplode(col("v")).as(Seq("dim", "x"))), "cluster", "dim"))
    val books0: Seq[Seq[(Long, Seq[Double])]] = (0 until PqM).map(m =>
      c0.map { case (Seq(cl), cv) =>
        (cl, cv.slice(m * PqSubDim, (m + 1) * PqSubDim)) })
    // the Lloyd step: assignments by the native argmin ([[pqCodes]])
    val c1 = collectVectors(quantizedMean(base
      .select(pqCodes(col("v"), books0).as("cs"),
              posexplode(col("v")).as(Seq("dim", "x")))
      .select(expr(s"dim div $PqSubDim").as("sub"),
              element_at(col("cs"),
                         expr(s"CAST(dim div $PqSubDim AS INT) + 1"))
                .as("cluster"),
              (col("dim") % PqSubDim).as("dim_in"), col("x")),
      "sub", "cluster", "dim_in"))
    (0 until PqM).map { m =>
      c1.collect { case (Seq(sub, cl), cv) if sub == m => (cl, cv) }
    }
  }

  /** Zero-shuffle PQ encode: ONE native all-subspace argmin projection
    * ([[pqCodes]]), fanned out to the `code{m}` columns the ADC lookup
    * terms read. */
  private def pqEncode(base: DataFrame, books: Seq[Seq[(Long, Seq[Double])]],
                       keep: Seq[String]): DataFrame =
    base.withColumn("cs", pqCodes(col("v"), books))
      .select(keep.map(col) ++
        (0 until PqM).map(m => element_at(col("cs"), m + 1).as(s"code$m")): _*)

  /** Per-query ADC lookup table as a plan expression over the literal
    * codebooks: an array of per-subspace MAPS code → <query subvector m,
    * codebook m centroid code> (a map, not a position-indexed array, so
    * the scoring side needs no code→position CASE chain and sparse codes
    * — a Lloyd step can empty one — need no index bookkeeping). */
  private def pqLut(books: Seq[Seq[(Long, Seq[Double])]], qv: Column): Column =
    array((0 until PqM).map { m =>
      map_from_entries(transform(bookLit(books(m)), cb =>
        struct(cb.getField("c"), dot(pqSub(m, qv), cb.getField("cv")))))
    }: _*)

  /** Per-subspace ADC lookup terms over `lut` and `code{m}` columns —
    * one two-level lookup each; the caller folds them left-to-right
    * (matching the oracle's `+` chain). */
  private def pqAdcTerms(books: Seq[Seq[(Long, Seq[Double])]]): Seq[Column] =
    (0 until PqM).map { m =>
      element_at(element_at(col("lut"), m + 1), col(s"code$m"))
    }

  /**
   * Product-quantization top-k [EXT] — the billion-scale ANN memory
   * layout: each 64-dim vector compresses to [[PqM]] one-byte codes
   * (64× smaller than fp64); queries score candidates with asymmetric
   * distance computation (ADC) — a per-query lookup table of
   * query-subvector × codebook-centroid inner products, so scoring a
   * candidate is [[PqM]] array lookups + adds, and the scan reads ONLY
   * the codes column.
   *
   * Codebooks: per subspace, k-means with the deterministic `label % k`
   * init and ONE Lloyd step over quantized-integer means (the
   * [[annKmeansTopk]] scheme per subspace — fixed unroll so the oracle
   * mirrors it CTE-for-CTE); encoding is argmin squared-L2 with ties to
   * the smaller code. Every number both engines produce is bit-identical
   * (integer-quantized means, strict left-to-right folds, literal
   * centroids), so the approx scores — and the ranking — hash-match.
   *
   * Scale shape: training collects k-row centroid tables per subspace
   * (the classic Spark k-means dataflow); encode + ADC are zero-shuffle
   * scans with codebooks/LUTs baked into the projection; the final
   * top-k runs through WindowGroupLimit's per-partition partial limit.
   *
   * Measured recall@5 vs exact inner product is 20% on the synthetic
   * corpus — ISOTROPIC gaussian embeddings are PQ's worst case (no
   * correlation structure for the codebooks to exploit, and 500 near-
   * orthogonal vectors differ by IP margins far below the 32-bit
   * reconstruction error). On real embedding manifolds PQ recall at
   * this bit rate is typically >80%, and production deployments always
   * rerank the ADC shortlist with exact scores — the two-stage shape
   * [[annRerank]] demonstrates. The gate here pins the dataflow and the
   * bit-exact cross-engine determinism, not the synthetic-data recall.
   */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val books = pqTrainBooks(c)
    // encode the corpus: 8 literal-projection argmins, zero shuffle
    val codes = pqEncode(c, books, Seq("vec_id"))
    val q = queryBatch(c)
      .withColumn("lut", pqLut(books, col("qv")))
      .select(col("q_id"), col("lut"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              pqAdcTerms(books).reduceLeft(_ + _).as("adc_ip"))
    topK(scored, "q_id", K, "rnk", col("adc_ip").desc, col("neighbor_id").asc)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), col("adc_ip"))
  }

  /** The oracle's PQ-training CTE block over `src` (a CTE exposing
    * vec_id, v), CTE names prefixed with `p` so two trainings (raw and
    * residual) can coexist in one query: identical per-subspace training
    * unrolled CTE-for-CTE — cent0_m init means, asg_m assignments,
    * cent1_m Lloyd-step codebooks, code_m final codes. */
  private def pqTrainSqlCtes(src: String, p: String): String = {
    def centSql(name: String, innerSrc: String): String =
      s"""$name AS (
         |  SELECT cluster, list(m ORDER BY dim) AS cv
         |  FROM (
         |    SELECT cluster, dim,
         |           CAST(SUM(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
         |             / (COUNT(*) * 1000000.0) AS m
         |    FROM (SELECT cluster, unnest(sv) AS x,
         |                 unnest(generate_series(1, len(sv))) AS dim
         |          FROM $innerSrc)
         |    GROUP BY cluster, dim)
         |  GROUP BY cluster)""".stripMargin
    def asgSql(name: String, sv: String, centN: String): String =
      s"""$name AS (
         |  SELECT vec_id, cluster AS code FROM (
         |    SELECT c.vec_id, ct.cluster,
         |           row_number() OVER (PARTITION BY c.vec_id
         |             ORDER BY ${l2sqSql(sv, "ct.cv")} ASC, ct.cluster ASC) AS arnk
         |    FROM $src c CROSS JOIN $centN ct)
         |  WHERE arnk = 1)""".stripMargin
    (0 until PqM).map { m =>
      val sv = pqSubSql(m, "c.v")
      Seq(
        centSql(s"${p}cent0_$m",
          s"(SELECT CAST(vec_id % $PqK AS BIGINT) AS cluster, ${pqSubSql(m, "v")} AS sv FROM $src) c"),
        asgSql(s"${p}asg_$m", sv, s"${p}cent0_$m"),
        centSql(s"${p}cent1_$m",
          s"(SELECT a.code AS cluster, ${pqSubSql(m, "c.v")} AS sv " +
          s"FROM $src c JOIN ${p}asg_$m a ON a.vec_id = c.vec_id) c"),
        asgSql(s"${p}code_$m", sv, s"${p}cent1_$m")
      ).mkString(",\n")
    }.mkString(",\n")
  }

  /** Oracle: identical per-subspace training unrolled CTE-for-CTE; ADC
    * scoring joins the codes back to the codebook rows instead of a
    * lookup table — same centroids, same folds, bit-identical scores. */
  val annPqTopkSql: String = {
    val scoreTerms = (0 until PqM).map { m =>
      s"${dotSql(pqSubSql(m, "q.qv"), s"g$m.cv")}"
    }.mkString(" + ")
    val codeJoins = (0 until PqM).map { m =>
      s"JOIN code_$m k$m ON k$m.vec_id = c.vec_id\n" +
      s"  JOIN cent1_$m g$m ON g$m.cluster = k$m.code"
    }.mkString("\n  ")
    s"""WITH $corpusSql,
       |${pqTrainSqlCtes("corpus", "")},
       |qs2 AS (SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < $NumQueries),
       |scored AS (
       |  SELECT q.q_id, c.vec_id AS neighbor_id, $scoreTerms AS adc_ip
       |  FROM corpus c
       |  $codeJoins
       |  CROSS JOIN qs2 q
       |  WHERE c.vec_id <> q.q_id)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc_ip FROM (
       |  SELECT q_id, neighbor_id, adc_ip,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc_ip DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $K""".stripMargin
  }

  /**
   * IVF-PQ top-k [EXT] — the composition production billion-scale indexes
   * actually ship (Faiss `IVFx,PQy`): a coarse quantizer partitions the
   * corpus into inverted lists, PQ codebooks train on the RESIDUAL
   * v − centroid(list) (residuals cluster far tighter than raw vectors,
   * so the same code budget carries more precision), and a query probes
   * only [[NProbe]] lists, scoring candidates as
   * `<q, centroid> + ADC(<q, residual>)` — exact inner-product algebra:
   * <q, v> = <q, c> + <q, v−c>, with only the residual term quantized.
   *
   * Scale shape: the coarse quantizer here is the per-label quantized
   * mean (the [[annIvfTopk]] quantizer — k-row table, always broadcast);
   * residual subtraction is a zero-shuffle map; PQ training/encode reuse
   * [[pqTrainBooks]]/[[pqEncode]] (k-row collects, literal-codebook
   * projections); candidates arrive via an equi-join on the list id, so
   * only the probed fraction of the corpus is ever touched, and the scan
   * reads codes + list id — never the vectors. The per-query constant
   * <q, centroid> attaches to the probe row (NProbe rows/query) and the
   * LUT is baked into the same broadcast — at 100 TB the big side moves
   * nothing but 8-byte codes into a per-partition window top-k.
   *
   * Determinism: residual = IEEE double subtraction (bit-identical in
   * both engines), codebooks from quantized integer means, ADC terms
   * fold left-to-right in the same order as the oracle's `+` chain —
   * the scores hash-match exactly, like [[annPqTopk]].
   */
  def annIvfpqTopk(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    // coarse quantizer: the per-label quantized-mean centroids (norm
    // column unused and pruned by the optimizer)
    val cent = Checkpoints.cut(labelCentroids(c).select(col("label"), col("cv")),
      eager = false) // the k-row centroid table feeds the residual join,
                     // the probe crossJoin, and both training passes —
                     // uncut, each re-runs the full corpus aggregate
    // residual corpus: v − centroid(label), zero-shuffle after the
    // broadcast join. Cut once (lazily): the subtree (scan + centroid
    // aggregate + residual subtraction) otherwise re-runs for each of
    // the two training collects AND the encode/score job. Toy-scale cost
    // after the bookLit codegen fix is the 4-job training/probe
    // SEQUENCE (~0.5 s driver floor each — sf0.001 and sf0.1 medians are
    // equal, so it is fixed overhead, not dataflow); collapsing the
    // Lloyd collects into joins would trade the zero-shuffle encode for
    // an extra corpus shuffle, a worse deal at 100 TB.
    val rc = Checkpoints.cut(c.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
              zip_with(col("v"), col("cv"), (a, b) => a - b).as("v")),
      eager = false) // materialized by the first training collect — an
                     // eager cut would add a whole extra driver job
    val books = pqTrainBooks(rc)
    val codes = pqEncode(rc, books, Seq("vec_id", "label"))
    // probes: each query ranks the coarse centroids by raw inner
    // product and keeps NProbe lists, carrying its <q, centroid>
    // constant and its residual-ADC lookup table on the probe row
    val cands = queryBatch(c).crossJoin(broadcast(cent))
      .select(col("q_id"), col("qv"), col("label"),
              dot(col("qv"), col("cv")).as("qc_ip"))
    val probes = topK(cands, "q_id", NProbe, "crnk", col("qc_ip").desc, col("label").asc)
      .withColumn("lut", pqLut(books, col("qv")))
      .select(col("q_id"), col("label"), col("qc_ip"), col("lut"))
    val scored = codes.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              (col("qc_ip") +: pqAdcTerms(books)).reduceLeft(_ + _)
                .as("adc_ip"))
    topK(scored, "q_id", K, "rnk", col("adc_ip").desc, col("neighbor_id").asc)
      .select(col("q_id"), col("rnk"), col("neighbor_id"), col("adc_ip"))
  }

  /** Oracle: same coarse centroids as [[annIvfTopkSql]], residuals as a
    * list_zip subtraction, the residual PQ training via
    * [[pqTrainSqlCtes]] with the `r` prefix, and ADC scoring as
    * `qc_ip + term0 + …` — the same left-to-right fold as the Spark
    * side's (qc_ip +: terms) reduce. */
  val annIvfpqTopkSql: String = {
    val scoreTerms = (0 until PqM).map { m =>
      s"${dotSql(pqSubSql(m, "p.qv"), s"g$m.cv")}"
    }.mkString(" + ")
    val codeJoins = (0 until PqM).map { m =>
      s"JOIN rcode_$m k$m ON k$m.vec_id = c.vec_id\n" +
      s"  JOIN rcent1_$m g$m ON g$m.cluster = k$m.code"
    }.mkString("\n  ")
    s"""WITH $corpusSql,
       |cent AS (
       |  SELECT label, list(m ORDER BY dim) AS cv
       |  FROM (
       |    SELECT label, dim,
       |           CAST(SUM(CAST(floor(x * 1000000) AS BIGINT)) AS DOUBLE)
       |             / (COUNT(*) * 1000000.0) AS m
       |    FROM (SELECT label, unnest(v) AS x,
       |                 unnest(generate_series(1, len(v))) AS dim
       |          FROM corpus)
       |    GROUP BY label, dim)
       |  GROUP BY label),
       |rcorpus AS (
       |  SELECT c.vec_id, c.label,
       |         list_transform(list_zip(c.v, ct.cv), p -> p[1] - p[2]) AS v
       |  FROM corpus c JOIN cent ct ON ct.label = c.label),
       |${pqTrainSqlCtes("rcorpus", "r")},
       |qs2 AS (SELECT vec_id AS q_id, v AS qv FROM corpus WHERE vec_id < $NumQueries),
       |probes AS (
       |  SELECT q_id, qv, label, qc_ip FROM (
       |    SELECT q_id, qv, ct.label,
       |           ${dotSql("qv", "ct.cv")} AS qc_ip,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${dotSql("qv", "ct.cv")} DESC, ct.label ASC) AS crnk
       |    FROM qs2 CROSS JOIN cent ct)
       |  WHERE crnk <= $NProbe),
       |scored AS (
       |  SELECT p.q_id, c.vec_id AS neighbor_id,
       |         p.qc_ip + $scoreTerms AS adc_ip
       |  FROM corpus c
       |  JOIN probes p ON p.label = c.label AND c.vec_id <> p.q_id
       |  $codeJoins)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, adc_ip FROM (
       |  SELECT q_id, neighbor_id, adc_ip,
       |         row_number() OVER (PARTITION BY q_id ORDER BY adc_ip DESC, neighbor_id ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $K""".stripMargin
  }

  /** Prefix length for the matryoshka truncation eval. */
  private val MatryDim = 16

  /**
   * Matryoshka truncation eval [EXT] — the storage decision an
   * embedding pipeline has to score before it ships: MRL-style models
   * front-load information into prefix dimensions, so serving can keep
   * only the first [[MatryDim]] of 64 dims (4× less memory bandwidth,
   * 4× more vectors per node) IF truncated retrieval still reproduces
   * full-dim retrieval. This query measures exactly that: per query,
   * recall@[[K]] of prefix-cosine top-k against full-cosine top-k —
   * integer per-mille, the honest scorecard (like `eval_retrieval` /
   * `eval_minhash`). On THIS corpus the verdict is "don't truncate":
   * isotropic gaussian embeddings spread energy uniformly across dims,
   * the worst case for truncation (same caveat as `ann_pq_topk`) — the
   * gate pins the measurement arithmetic, not the synthetic recall.
   *
   * Scale shape: two broadcast-query scans over the corpus (the second
   * reads a 4× narrower slice — in a real deployment a separate, short
   * column), each a per-partition window top-k; the hit join is K·|Q|
   * rows against K·|Q| rows.
   */
  def embedMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val qf = queryBatch(c)
    // the same per-query top K over full and truncated cosines
    val fullTop = nearestK(c.join(broadcast(qf), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos")))
      .select(col("q_id"), col("neighbor_id"))
    val tc = c.select(col("vec_id"), slice(col("v"), 1, MatryDim).as("tv"))
      .withColumn("tn", sqrt(dot(col("tv"), col("tv"))))
    val qt = tc.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("tv").as("qv"), col("tn").as("qn"))
    val truncTop = nearestK(tc.join(broadcast(qt), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              cosine(col("qv"), col("qn"), col("tv"), col("tn")).as("cos")))
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    fullTop.join(truncTop, Seq("q_id", "neighbor_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_full"),
           sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("q_id"), col("n_full"), col("n_hits"),
              expr("n_hits * 1000 div n_full").as("recall_pm"))
  }

  val embedMatryoshkaSql: String = {
    val tsl = s"v[1 : $MatryDim]"
    s"""WITH $corpusSql, $queriesSqlCte,
       |fullr AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${dotSql("qv", "v")} / (qn * c.nrm) DESC, c.vec_id ASC) AS rnk
       |    FROM corpus c JOIN qs ON c.vec_id <> q_id)
       |  WHERE rnk <= $K),
       |tc AS (
       |  SELECT vec_id, $tsl AS tv,
       |         sqrt(${dotSql(tsl, tsl)}) AS tn
       |  FROM corpus),
       |tqs AS (SELECT vec_id AS q_id, tv AS qv, tn AS qn FROM tc
       |        WHERE vec_id < $NumQueries),
       |truncr AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, c.vec_id AS neighbor_id,
       |           row_number() OVER (PARTITION BY q_id
       |             ORDER BY ${dotSql("qv", "tv")} / (qn * c.tn) DESC, c.vec_id ASC) AS rnk
       |    FROM tc c JOIN tqs ON c.vec_id <> q_id)
       |  WHERE rnk <= $K)
       |SELECT f.q_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_full,
       |  CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST((SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
       |       // COUNT(*) AS BIGINT) AS recall_pm
       |FROM fullr f LEFT JOIN truncr t
       |  ON t.q_id = f.q_id AND t.neighbor_id = f.neighbor_id
       |GROUP BY 1""".stripMargin
  }

  /** Coarse-stage candidate count for two-stage retrieval. */
  private val RerankC = 40

  /**
   * Two-stage retrieval [EXT] — the production ANN serving shape: a
   * coarse pass scores the WHOLE corpus with int8-quantized integer dot
   * products (4× less memory bandwidth than fp32; at 100 TB the coarse
   * scan reads only the codes column), keeps the top [[RerankC]] per
   * query, and an exact full-precision cosine re-ranks just those
   * candidates to the final top [[K]].
   *
   * Determinism: the coarse score is a sum of int products — associative,
   * so partitioning-invariant and exactly reproducible in the oracle —
   * and the rerank reuses the strictly-ordered double dot product every
   * other ANN query here uses. Quantization is [[embedQuantize]]'s
   * floor(·+0.5) per-vector max-abs scheme.
   */
  def annRerank(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val qz = c
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", when(col("scale") === 0,
          transform(col("v"), _ => lit(0L)))
        .otherwise(transform(col("v"),
          x => floor(x / col("scale") * lit(127.0) + lit(0.5)))))
    val qInt = qz.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    val coarse = qz.select(col("vec_id"), col("q"))
      .join(broadcast(qInt), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
              // native codegen'd integer dot: the interpreted
              // aggregate(zip_with) pair was the corpus × queries hot loop
              graft.functions.VectorFunctions
                .dotProductLong(col("qq"), col("q")).as("iscore"))
    val cand = topK(coarse, "q_id", RerankC, "crnk", col("iscore").desc, col("neighbor_id").asc)
      .select(col("q_id"), col("neighbor_id"))
    val qFull = queryBatch(c)
    val exact = cand
      .join(c.select(col("vec_id"), col("v"), col("nrm")),
            col("neighbor_id") === col("vec_id"))
      .join(broadcast(qFull), "q_id")
      .select(col("q_id"), col("neighbor_id"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
    nearestK(exact)
  }

  val annRerankSql: String =
    s"""WITH $corpusSql,
       |sc AS (
       |  SELECT vec_id, v, nrm,
       |         list_max(list_transform(v, x -> abs(x))) AS scale
       |  FROM corpus),
       |qz AS (
       |  SELECT vec_id, v, nrm,
       |         CASE WHEN scale = 0
       |              THEN list_transform(v, x -> CAST(0 AS BIGINT))
       |              ELSE list_transform(v, x -> CAST(floor(x / scale * 127.0 + 0.5) AS BIGINT))
       |         END AS q
       |  FROM sc),
       |qq AS (
       |  SELECT vec_id AS q_id, q AS qvq, v AS qv, nrm AS qn FROM qz
       |  WHERE vec_id < $NumQueries),
       |coarse AS (
       |  SELECT q_id, z.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(list_zip(qvq, z.q), p -> p[1] * p[2])) AS BIGINT) AS iscore
       |  FROM qz z JOIN qq ON z.vec_id <> q_id),
       |cand AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT q_id, neighbor_id,
       |           row_number() OVER (PARTITION BY q_id ORDER BY iscore DESC, neighbor_id ASC) AS crnk
       |    FROM coarse)
       |  WHERE crnk <= $RerankC),
       |exact AS (
       |  SELECT cd.q_id, cd.neighbor_id,
       |         ${dotSql("qq.qv", "cv.v")} / (qq.qn * cv.nrm) AS cos
       |  FROM cand cd
       |  JOIN corpus cv ON cv.vec_id = cd.neighbor_id
       |  JOIN qq ON qq.q_id = cd.q_id)
       |SELECT q_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos FROM (
       |  SELECT q_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id ASC) AS rnk
       |  FROM exact)
       |WHERE rnk <= $K""".stripMargin

  // ------------------------------------------------- embedding near-dup

  /** The synthetic embeddings have no true near-dups (max in-cluster
    * cosine ≈ 0.47), so the threshold sits where the operator produces a
    * non-trivial, fully-oracle-checked result; a production corpus would
    * use ≈0.95. */
  private val DupThreshold = 0.3

  /** A label block larger than this is subdivided by banded LSH sign
    * buckets before pairing. Below the threshold, within-block all-pairs
    * is the CHEAPEST correct plan (a few hundred comparisons); above it,
    * the O(block²) term is what kills a 100 TB corpus — one hot label
    * with 10⁸ members is 10¹⁶ pairs — so oversized blocks switch to
    * (label, band, bucket) blocking: each vector hashes into ONE of 256
    * sign buckets per band, and a pair is a candidate if it collides in
    * ANY of the [[NumBands]] bands (the standard multi-table angular-LSH
    * OR, the same shape as MinHash banding). At cos 0.95 a single 8-bit
    * table catches ≈0.9⁸≈43% of true pairs; OR-ing 4 independent bands
    * lifts recall to ≈1−(1−0.43)⁴≈90% while each band still cuts a
    * block 256-way. Max observed label block on the testdata is 218
    * (sf0.1), 4.7× under the threshold, so the subdivision is provably
    * inert here — same inertness design as the MinHash/SimHash caps;
    * CapActivationSpec pins the live behavior on a synthetic hot label. */
  private val MaxEmbedBlockDocs = 1024

  /** Embedding-cosine near-dup: candidate pairs blocked on the coarse
    * cluster id (IVF-style blocking — cross-cluster pairs are never
    * materialized), scored exactly, thresholded. Oversized label blocks
    * are sub-blocked by banded LSH (see [[MaxEmbedBlockDocs]]) so no
    * block is ever all-pairs at corpus scale; the block-size table is
    * label-count-sized, hence always the broadcast side. Small labels
    * carry one sentinel (band, blk) = (-1, -1) key — no bucket math, no
    * row multiplication; oversized labels carry one row per band, and
    * the final DISTINCT collapses pairs colliding in several bands
    * (identical expression on identical inputs → bit-identical cos, so
    * the distinct is exact in both engines). */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val sizes = c.groupBy(col("label")).agg(count(lit(1)).as("bn"))
    // adaptive plan choice on one scalar (the k-means-style tiny driver
    // action): the banded branch bakes 32×64 plane literals into the
    // plan, a ~0.5 s codegen-compile constant that would tax EVERY run
    // of the common no-hot-label case for a branch no row ever takes.
    // One cheap max() over the label histogram picks the small plan
    // when sub-blocking cannot fire; results are identical by the same
    // argument that makes the guard inert (the oracle stays the general
    // banded form and hash-matches either plan).
    val anyBig = sizes.agg(max(col("bn"))).first().getLong(0) > MaxEmbedBlockDocs
    val keyed =
      if (!anyBig)
        c.select(col("label"), col("vec_id"), col("v"), col("nrm"),
                 lit(-1).as("band"), lit(-1L).as("blk"))
      else {
        val bigKeys = array((0 until NumBands).map(b =>
          struct(lit(b).as("band"), bandBucket(b, col("v")).as("blk"))): _*)
        val smallKeys = array(struct(lit(-1).as("band"), lit(-1L).as("blk")))
        c.join(broadcast(sizes), Seq("label"))
          .select(col("label"), col("vec_id"), col("v"), col("nrm"),
                  explode(when(col("bn") <= MaxEmbedBlockDocs, smallKeys)
                            .otherwise(bigKeys)).as("bk"))
          .select(col("label"), col("vec_id"), col("v"), col("nrm"),
                  col("bk.band").as("band"), col("bk.blk").as("blk"))
      }
    val a = keyed.select(col("label"), col("band"), col("blk"),
                         col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = keyed.select(col("label"), col("band"), col("blk"),
                         col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("label", "band", "blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
              cosine(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
      .filter(col("cos") >= DupThreshold)
    // only multi-band keying can emit a pair twice
    if (anyBig) pairs.distinct() else pairs
  }

  val dedupEmbeddingSql: String = {
    val bandBlk = (1 until NumBands).foldLeft(
      s"WHEN band.b = 0 THEN ${bandBucketSql(0, "c.v")}") { (acc, b) =>
        acc + s"\n              WHEN band.b = $b THEN ${bandBucketSql(b, "c.v")}"
      }
    s"""WITH $corpusSql,
       |sz AS (SELECT label, COUNT(*) AS bn FROM corpus GROUP BY label),
       |keyed AS (
       |  SELECT c.*,
       |         CASE WHEN sz.bn <= $MaxEmbedBlockDocs THEN -1 ELSE band.b END AS band,
       |         CASE WHEN sz.bn <= $MaxEmbedBlockDocs THEN -1
       |              $bandBlk
       |         END AS blk
       |  FROM corpus c JOIN sz ON sz.label = c.label
       |  CROSS JOIN (SELECT unnest([${(0 until NumBands).mkString(", ")}]) AS b) band
       |  WHERE sz.bn > $MaxEmbedBlockDocs OR band.b = 0)
       |SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |       ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
       |FROM keyed a JOIN keyed b
       |  ON a.label = b.label AND a.band = b.band AND a.blk = b.blk
       |     AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $DupThreshold""".stripMargin
  }

  // --------------------------------------------------- kNN label probe

  /** Neighbors voting in the leave-one-out label probe. */
  private val KnnK = 5

  /**
   * Leave-one-out kNN label agreement [EXT] — the standard
   * embedding-quality / label-noise probe: predict every vector's label
   * from its k nearest neighbors' majority vote (self excluded) and
   * report per-label accuracy. High agreement = the embedding separates
   * the label classes; a low-accuracy label marks mislabeled or
   * entangled regions — the audit run before trusting labels for
   * filtering or hard-negative mining.
   *
   * Scale shape: candidate generation is the single-probe sign-LSH
   * equi-join ([[annLshBuckets]]' bucketing — each vector scores only
   * its own bucket's occupants, never the corpus; the Hamming-1
   * multi-probe of [[annMultiprobeLsh]] is the recall refinement if
   * buckets run sparse). Per-query top-k is a window over bucket-sized
   * candidate partitions; votes and the accuracy rollup are k-row and
   * label-sized aggregates. Vectors alone in their bucket have no
   * candidates and drop out of the eval — identically in both engines
   * (`n_eval` makes the coverage auditable). Ties: neighbors rank on
   * (cos DESC, id ASC), votes on (count DESC, label ASC).
   */
  def evalKnnLabel(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).withColumn("bkt", lshBucket(col("v")))
    val q = c.select(col("bkt"), col("vec_id").as("q_id"),
                     col("label").as("q_label"), col("v").as("qv"), col("nrm").as("qn"))
    val n = c.select(col("bkt"), col("vec_id").as("n_id"),
                     col("label").as("n_label"), col("v"), col("nrm"))
    val scored = q.join(n, Seq("bkt")).filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
              round(cosine(col("qv"), col("qn"), col("v"), col("nrm")), 6).as("cos6"))
    // Top-K neighbors per query: the rank window, KEPT after an r17 A/B
    // against the bounded-heap TopKByCount form (the window_topk
    // playbook, order-isomorphic cos6-micro-int/zero-padded-id keys,
    // oracle hash-matched): interleaved medians said window 0.53 vs heap
    // 0.55 s at sf0.1 and window 3.99 vs heap 4.50 s at sf1 — the
    // ObjectHashAggregate's interpreted per-row eval plus the string-tag
    // allocation outweighs the shuffle saving at every measured scale
    // (candidates per (q_id, task) stay near K under this LSH's bucket
    // occupancy, so map-side combining reduces little — the opposite
    // regime from window_topk's customer histories).
    val pred = topK(scored, "q_id", KnnK, "rnk", col("cos6").desc, col("n_id").asc)
      .groupBy(col("q_id"), col("q_label"), col("n_label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(max(struct(col("cnt"), (-col("n_label")).as("neg"))).as("b"))
      .select(col("q_id"), col("q_label"), (-col("b.neg")).as("pred_label"))
    pred.groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_eval"),
           sum(when(col("pred_label") === col("q_label"), 1L).otherwise(0L))
             .as("n_correct"))
      .select(col("label"), col("n_eval"), col("n_correct"),
              expr("n_correct * 1000000L div n_eval").as("acc_ppm"))
  }

  /** Oracle: identical bucketing, ranking, vote and rollup. */
  val evalKnnLabelSql: String =
    s"""WITH $corpusSql,
       |bk AS (SELECT vec_id, label, v, nrm, ${lshBucketSql("v")} AS bkt FROM corpus),
       |sc AS (
       |  SELECT q.vec_id AS q_id, q.label AS q_label,
       |         n.vec_id AS n_id, n.label AS n_label,
       |         round(${dotSql("q.v", "n.v")} / (q.nrm * n.nrm), 6) AS cos6
       |  FROM bk q JOIN bk n ON n.bkt = q.bkt AND n.vec_id <> q.vec_id),
       |top AS (SELECT q_id, q_label, n_label FROM (
       |    SELECT sc.*, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos6 DESC, n_id ASC) AS rnk FROM sc) WHERE rnk <= $KnnK),
       |v AS (SELECT q_id, q_label, n_label, COUNT(*) AS cnt
       |      FROM top GROUP BY 1, 2, 3),
       |pred AS (SELECT q_id, q_label, n_label AS pred_label FROM (
       |    SELECT v.*, row_number() OVER (PARTITION BY q_id
       |      ORDER BY cnt DESC, n_label ASC) AS pr FROM v) WHERE pr = 1)
       |SELECT q_label AS label, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  CAST(SUM(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_correct,
       |  (CAST(SUM(CASE WHEN pred_label = q_label THEN 1 ELSE 0 END) AS BIGINT)
       |   * 1000000) // COUNT(*) AS acc_ppm
       |FROM pred GROUP BY 1""".stripMargin

  // ------------------------------------------------- semantic decontam

  /** Same placement rationale as [[DupThreshold]]: the synthetic
    * embeddings top out near cosine 0.47, so the contamination cut sits
    * where it produces a non-trivial gated result; production uses ≈0.95. */
  private val DecontamThreshold = 0.3

  /**
   * Semantic train/eval decontamination [EXT] — the embedding-space
   * complement of the exact n-gram split gates ([[Sampling]]'s
   * `split_contamination` / `split_ngram_decontam`): for every held-out
   * vector (the valid/test side of the shared 80/10/10 md5 split, here
   * over `vec_id`), find its highest-cosine TRAIN vector and flag the
   * pair as contaminated above [[DecontamThreshold]] — the "eval item is
   * semantically present in training data" audit every benchmark release
   * runs (the exact-match gates miss paraphrases; this catches them).
   *
   * Scale shape: candidates are blocked on the coarse cluster id exactly
   * like [[dedupEmbedding]] (IVF blocking — cross-cluster pairs never
   * materialize; oversized blocks would take the same banded-LSH
   * subdivision, inert on this data). The per-eval best match is ONE
   * aggregate — `max(struct(cos, -train_id))` with map-side partial
   * combine — not a window, so nothing sorts per partition and the
   * deterministic tie-break (cos DESC, train_id ASC) lives in the
   * struct order itself.
   */
  def splitSemanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
      .withColumn("split", Sampling.splitCol(col("vec_id")))
    val tr = c.filter(col("split") === "train")
      .select(col("label"), col("vec_id").as("train_id"),
              col("v").as("tv"), col("nrm").as("tn"))
    val ev = c.filter(col("split") =!= "train")
      .select(col("label"), col("vec_id"), col("split"), col("v"), col("nrm"))
    ev.join(tr, Seq("label"))
      .select(col("vec_id"), col("split"), col("label"), col("train_id"),
              round(cosine(col("v"), col("nrm"), col("tv"), col("tn")), 6)
                .as("cos6"))
      .groupBy(col("vec_id"), col("split"), col("label"))
      .agg(max(struct(col("cos6"), (-col("train_id")).as("neg"))).as("best"),
           count(lit(1)).as("n_train_cands"))
      .select(col("vec_id"), col("split"), col("label"),
              (-col("best.neg")).as("best_train_id"),
              col("best.cos6").as("best_cos"),
              col("n_train_cands"),
              (col("best.cos6") >= DecontamThreshold).as("contaminated"))
  }

  /** Oracle: shared split hash over vec_id, identical rounded cosine,
    * window-ranked top-1 with the same (cos DESC, id ASC) tie-break. */
  val splitSemanticDecontamSql: String =
    s"""WITH $corpusSql,
       |sp AS (SELECT vec_id, label, v, nrm,
       |              ${Sampling.splitSqlExprFor("vec_id")} AS split
       |       FROM corpus),
       |tr AS (SELECT label, vec_id AS train_id, v AS tv, nrm AS tn
       |       FROM sp WHERE split = 'train'),
       |ev AS (SELECT label, vec_id, split, v, nrm FROM sp WHERE split <> 'train'),
       |scored AS (
       |  SELECT ev.vec_id, ev.split, ev.label, tr.train_id,
       |         round(${dotSql("ev.v", "tr.tv")} / (ev.nrm * tr.tn), 6) AS cos6
       |  FROM ev JOIN tr ON tr.label = ev.label),
       |best AS (
       |  SELECT vec_id, split, label, train_id, cos6,
       |         row_number() OVER (PARTITION BY vec_id
       |           ORDER BY cos6 DESC, train_id ASC) AS rn,
       |         COUNT(*) OVER (PARTITION BY vec_id) AS n_cands
       |  FROM scored)
       |SELECT vec_id, split, label, train_id AS best_train_id, cos6 AS best_cos,
       |       CAST(n_cands AS BIGINT) AS n_train_cands,
       |       cos6 >= $DecontamThreshold AS contaminated
       |FROM best WHERE rn = 1""".stripMargin

  // ---------------------------------------------------- centroid outliers

  /** Per-label audit-list depth for [[embedCentroidOutliers]]. */
  private val OutlierK = 5

  /**
   * Embedding centroid-distance outliers [EXT] — the semantic-quality
   * filter an embedding pipeline runs after ingest: vectors far from
   * their own domain's centroid are mislabeled, corrupted, or
   * off-distribution, and the bottom-k per label is the human-review
   * audit list (the threshold-free form: a fixed cosine cut needs
   * distribution knowledge this query produces). Reuses the
   * quantized-integer centroid table ([[labelCentroids]] — exact
   * integer sums, order-independent) and the L2R-fold cosine, so every
   * score is bit-identical across engines before the 6-decimal rounding
   * that the ranking ties break on.
   *
   * Scale shape: centroid aggregate (k·dim result, broadcast back), one
   * zero-shuffle scoring pass over the corpus, then a bottom-k window
   * PARTITIONED BY LABEL — never a global window.
   */
  def embedCentroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val scored = c.join(broadcast(labelCentroids(c)), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(cosine(col("v"), col("nrm"), col("cv"), col("cn")), 6)
          .as("cos_centroid"))
    topK(scored, "label", OutlierK, "rnk", col("cos_centroid").asc, col("vec_id").asc)
      .select(col("label"), col("rnk"), col("vec_id"), col("cos_centroid"))
  }

  /** Oracle: the shared centroid CTEs + identical rounded-cosine ranking. */
  val embedCentroidOutliersSql: String =
    s"""WITH $corpusSql,
       |$centSqlCtes,
       |scored AS (
       |  SELECT c.label, c.vec_id,
       |         round(${dotSql("c.v", "cv")} / (c.nrm * cn), 6) AS cos_centroid
       |  FROM corpus c JOIN cent2 USING (label))
       |SELECT label, CAST(rnk AS INT) AS rnk, vec_id, cos_centroid
       |FROM (
       |  SELECT label, vec_id, cos_centroid,
       |         row_number() OVER (PARTITION BY label
       |           ORDER BY cos_centroid ASC, vec_id ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $OutlierK""".stripMargin

  // ----------------------------------------------------- hybrid retrieval

  /** Reciprocal-rank-fusion constant (Cormack et al.'s k=60) and the
    * per-channel candidate depth / fused output size. */
  private val RrfK = 60
  private val RrfDepth = 20
  private val RrfTopK = 10

  /**
   * Hybrid retrieval [EXT]: reciprocal-rank fusion of the lexical channel
   * (BM25 top-20, [[TextAnalysis.textBm25]]) and the dense channel
   * (exact-cosine top-20 for query vector 0; the synthetic corpus aligns
   * doc_id with vec_id). RRF(d) = Σ_channels 1/(k + rank_channel(d)),
   * with a missing channel contributing 0 — rank fusion needs no score
   * calibration between channels, which is why it is the default fusion
   * in production hybrid search.
   *
   * Scale shape: each channel reduces to its top-20 via
   * TakeOrderedAndProject BEFORE any window — the rank row_number only
   * ever sees ≤20 rows, so the unpartitioned window is a constant-size
   * driver-side step, not a global sort. The fusion join is 20×20 rows.
   * RRF scores are 1/(k+rank) on integer ranks summed in fixed channel
   * order — no libm, bit-identical on any engine.
   */
  def annHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val denseTop = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id").as("id"),
              cosine(col("qv"), col("qn"), col("v"), col("nrm")).as("cos"))
      .orderBy(col("cos").desc, col("id").asc)
      .limit(RrfDepth)
    val dense = denseTop.withColumn("r_dense",
      row_number().over(Window.orderBy(col("cos").desc, col("id").asc)))
    val lex = TextAnalysis.textBm25(spark, dir)
      .select(col("doc_id").as("id"), col("score"))
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("score").desc, col("id").asc)))
    dense.select(col("id"), col("r_dense"))
      .join(lex.select(col("id"), col("r_lex")), Seq("id"), "full_outer")
      .select(col("id").as("doc_id"), col("r_lex"), col("r_dense"),
              (coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
               coalesce(lit(1.0) / (lit(RrfK) + col("r_dense")), lit(0.0)))
                .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(RrfTopK)
  }

  val annHybridRrfSql: String =
    s"""WITH $corpusSql,
       |dense_top AS (
       |  SELECT c.vec_id AS id, ${dotSql("q.qv", "c.v")} / (q.qn * c.nrm) AS cos
       |  FROM corpus c
       |  CROSS JOIN (SELECT v AS qv, nrm AS qn FROM corpus WHERE vec_id = 0) q
       |  WHERE c.vec_id <> 0
       |  ORDER BY cos DESC, id ASC LIMIT $RrfDepth),
       |dense AS (
       |  SELECT id, CAST(row_number() OVER (ORDER BY cos DESC, id ASC) AS INT) AS r_dense
       |  FROM dense_top),
       |lex0 AS (${TextAnalysis.textBm25Sql}),
       |lex AS (
       |  SELECT doc_id AS id, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS r_lex
       |  FROM lex0)
       |SELECT coalesce(d.id, l.id) AS doc_id, r_lex, r_dense,
       |       coalesce(CAST(1 AS DOUBLE) / ($RrfK + r_lex), 0.0)
       |         + coalesce(CAST(1 AS DOUBLE) / ($RrfK + r_dense), 0.0) AS rrf_score
       |FROM dense d FULL OUTER JOIN lex l ON d.id = l.id
       |ORDER BY rrf_score DESC, doc_id ASC LIMIT $RrfTopK""".stripMargin

  // -------------------------------------------------- semantic dedup

  /** Near-dup cosine threshold for the semantic dedup pass (picked so the
    * pass is ACTIVE on the isotropic synthetic corpus — max pairwise
    * cosine there is ~0.51; production text embeddings use ~0.95+), and
    * the cluster occupancy cap guarding the within-cluster pair join. */
  private val SemTau = 0.4
  private val SemMaxCluster = 1024L

  /**
   * SemDeDup [EXT] (Abbas et al. 2023 — semantic deduplication, the
   * embedding-space complement of MinHash): k-means-cluster the corpus
   * embeddings (the [[kmeansCents]] Lloyd loop [[annKmeansTopk]] runs),
   * then within each cluster mark as duplicates the pairs with cosine ≥
   * [[SemTau]] and REMOVE the more-central member of each pair —
   * SemDeDup's keep-the-outlier rule (low centroid-similarity examples
   * carry more diversity per token).
   *
   * The paper's greedy sweep (keep in decreasing-distance order, drop
   * anything near an already-KEPT item) is a sequential recurrence that
   * does not distribute; this is its standard one-round relaxation —
   * drop every vector with a more-central near-duplicate neighbor,
   * kept or not — which equals the greedy result on cliques (the shape
   * real near-dup clusters take) and never drops a cluster's most
   * outlying member. Deterministic: centrality compares bit-identical
   * doubles, ties to the smaller vec_id.
   *
   * Scale shape: clustering is the zero-shuffle literal-centroid scan;
   * the pair join is an equi-join ON CLUSTER (never all-pairs across the
   * corpus), quadratic only within a cluster — bounded by
   * [[SemMaxCluster]] (inert here, max cluster ~70; an over-full cluster
   * would be LSH-sub-blocked exactly like [[dedupEmbedding]]'s label
   * blocks). Output rows carry ids and rounded scores, never vectors.
   */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    val cents = kmeansCents(c)
    val m = kmAssign(c, cents)
      .join(broadcast(centDf(spark, cents)), "cluster")
      .select(col("cluster"), col("vec_id"), col("v"), col("nrm"),
              cosine(col("v"), col("nrm"), col("cv"), col("cn")).as("c_cos"))
    val sized = m.join(
      m.groupBy(col("cluster")).agg(count(lit(1)).as("csz")), "cluster")
      .filter(col("csz") <= SemMaxCluster)
    val pairs = sized.as("a").join(sized.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")) >= SemTau)
      .select(col("a.cluster").as("cluster"),
        cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm")).as("cos"),
        when(col("a.c_cos") > col("b.c_cos")
             || (col("a.c_cos") === col("b.c_cos") && col("a.vec_id") > col("b.vec_id")),
             struct(col("a.vec_id").as("id"), col("a.c_cos").as("cc")))
          .otherwise(struct(col("b.vec_id").as("id"), col("b.c_cos").as("cc")))
          .as("loser"))
    pairs.groupBy(col("loser.id").as("vec_id"))
      .agg(max(col("cluster")).as("cluster"), // constant within the group
           count(lit(1)).as("n_dup_pairs"),
           round(max(col("cos")), 6).as("max_cos"),
           round(max(col("loser.cc")), 6).as("c_cos"))
      .select(col("vec_id"), col("cluster"), col("n_dup_pairs"),
              col("max_cos"), col("c_cos"))
  }

  val dedupSemanticSql: String =
    s"""WITH $corpusSql,
       |$kmChainSql,
       |m AS (
       |  SELECT fa.cluster, c.vec_id, c.v, c.nrm,
       |         ${dotSql("c.v", "ct.cv")} / (c.nrm * ct.cn) AS c_cos
       |  FROM corpus c
       |  JOIN final_asg fa ON fa.vec_id = c.vec_id
       |  JOIN $kmLastCent ct ON ct.cluster = fa.cluster),
       |sized AS (
       |  SELECT m.* FROM m
       |  JOIN (SELECT cluster, COUNT(*) AS csz FROM m GROUP BY 1) s USING (cluster)
       |  WHERE s.csz <= $SemMaxCluster),
       |pairs AS (
       |  SELECT a.cluster,
       |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos,
       |         CASE WHEN a.c_cos > b.c_cos
       |                   OR (a.c_cos = b.c_cos AND a.vec_id > b.vec_id)
       |              THEN a.vec_id ELSE b.vec_id END AS loser_id,
       |         CASE WHEN a.c_cos > b.c_cos
       |                   OR (a.c_cos = b.c_cos AND a.vec_id > b.vec_id)
       |              THEN a.c_cos ELSE b.c_cos END AS loser_cc
       |  FROM sized a JOIN sized b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $SemTau)
       |SELECT loser_id AS vec_id,
       |  CAST(MAX(cluster) AS BIGINT) AS cluster,
       |  CAST(COUNT(*) AS BIGINT) AS n_dup_pairs,
       |  round(MAX(cos), 6) AS max_cos,
       |  round(MAX(loser_cc), 6) AS c_cos
       |FROM pairs GROUP BY 1""".stripMargin

  // --------------------------------------------------------- NN-Descent

  /** Neighbors kept per vector in the kNN graph. */
  private val NnK = 6

  /**
   * One NN-Descent refinement round [EXT] (Dong et al. 2011 — the
   * standard constructor for the kNN graphs under HNSW/graph-ANN
   * indexes): seed an approximate kNN graph from multi-band LSH bucket
   * collisions (the [[dedupEmbedding]] blocking, reused), then improve
   * it with the NN-Descent step — a neighbor's neighbor is probably a
   * neighbor: candidates = the seed edges plus every two-hop pair in the
   * UNDIRECTED seed graph, rescored exactly, top-[[NnK]] kept per
   * vector.
   *
   * Scale shape: the whole round is equi-joins with k-BOUNDED fan-out —
   * the two-hop join emits ≤ (2k)² candidates per vector regardless of
   * corpus size, and the rescore joins carry ids until the final
   * vector lookup. Nothing is ever all-pairs; the LSH seed is
   * bucket-bounded the same way [[dedupEmbedding]] is. Production runs
   * this round to convergence (2-4 iterations); one round is the
   * per-iteration dataflow, and RetrievalOpsSpec measures the recall
   * it adds over the raw LSH seed.
   */
  def annNndescent(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir)
    // ids-first: the banded self-join and its dedup carry ONLY
    // (band, blk, vec_id) — never the 0.5 KB vectors; vectors are
    // fetched by equi-join for the UNIQUE candidate pairs only. Same
    // rows by construction (the cosine is a function of the pair).
    val keyed = c.select(col("vec_id"), col("v"),
        explode(array((0 until NumBands).map(b =>
          struct(lit(b).as("band"), bandBucket(b, col("v")).as("blk"))): _*)).as("bk"))
      .select(col("vec_id"), col("bk.band").as("band"), col("bk.blk").as("blk"))
    val ids = keyed.as("x").join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.blk") === col("y.blk")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct() // multi-band keying can emit a pair once per band
    val pa = c.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val pb = c.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    // lineage cuts at the two fan-out points: seedPairs feeds BOTH
    // direction branches of the edge union, and u feeds THREE plan
    // branches (each side of the two-hop self-join plus the candidate
    // union) — uncut, Spark executes the whole seed pipeline once per
    // branch (measured ~2x the round at sf0.1). A cluster run persists
    // the same two tables (they are the round's input/output state in
    // the to-convergence loop).
    val seedPairs = Checkpoints.cut(ids.join(pa, "id_a").join(pb, "id_b")
      .select(col("id_a"), col("id_b"),
              cosine(col("va"), col("na"), col("vb"), col("nb")).as("cos")))
    val seedEdges = seedPairs.select(col("id_a").as("src"), col("id_b").as("dst"), col("cos"))
      .union(seedPairs.select(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))
    val g = topK(seedEdges, "src", NnK, "rnk", col("cos").desc, col("dst").asc)
      .select(col("src"), col("dst"))
    val u = Checkpoints.cut(
      g.union(g.select(col("dst").as("src"), col("src").as("dst"))).distinct())
    val cand = u.as("e1").join(u.as("e2"), col("e1.dst") === col("e2.src"))
      .filter(col("e1.src") =!= col("e2.dst"))
      .select(col("e1.src").as("qa"), col("e2.dst").as("qb"))
      .union(u.select(col("src").as("qa"), col("dst").as("qb")))
      .distinct()
    val ca = c.select(col("vec_id").as("qa"), col("v").as("va"), col("nrm").as("na"))
    val cb = c.select(col("vec_id").as("qb"), col("v").as("vb"), col("nrm").as("nb"))
    val scored = cand.join(ca, "qa").join(cb, "qb")
      .select(col("qa"), col("qb"),
              cosine(col("va"), col("na"), col("vb"), col("nb")).as("cos"))
    topK(scored, "qa", NnK, "rnk", col("cos").desc, col("qb").asc)
      .select(col("qa").as("vec_id"), col("rnk"), col("qb").as("neighbor_id"), col("cos"))
  }

  val annNndescentSql: String = {
    val bandUnion = (0 until NumBands).map(bnd =>
      s"SELECT vec_id, v, nrm, $bnd AS band, ${bandBucketSql(bnd, "v")} AS blk FROM corpus")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH $corpusSql,
       |keyed AS (
       |  $bandUnion),
       |seedp AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       |         ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.blk = b.blk AND a.vec_id < b.vec_id),
       |seede AS (
       |  SELECT id_a AS src, id_b AS dst, cos FROM seedp
       |  UNION ALL
       |  SELECT id_b AS src, id_a AS dst, cos FROM seedp),
       |g AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |           row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rnk
       |    FROM seede)
       |  WHERE rnk <= $NnK),
       |u AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g)),
       |cand AS (
       |  SELECT DISTINCT qa, qb FROM (
       |    SELECT e1.src AS qa, e2.dst AS qb
       |    FROM u e1 JOIN u e2 ON e1.dst = e2.src AND e1.src <> e2.dst
       |    UNION ALL
       |    SELECT src AS qa, dst AS qb FROM u)),
       |scored AS (
       |  SELECT qa, qb, ${dotSql("ca.v", "cb.v")} / (ca.nrm * cb.nrm) AS cos
       |  FROM cand
       |  JOIN corpus ca ON ca.vec_id = qa
       |  JOIN corpus cb ON cb.vec_id = qb)
       |SELECT qa AS vec_id, CAST(rnk AS INT) AS rnk, qb AS neighbor_id, cos FROM (
       |  SELECT qa, qb, cos,
       |         row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb ASC) AS rnk
       |  FROM scored)
       |WHERE rnk <= $NnK""".stripMargin
  }

  // ------------------------------------------------- retrieval evaluation

  /**
   * Retrieval evaluation harness [EXT]: recall@k and MRR of the IVF
   * index ([[annIvfTopk]]) against exact brute force
   * ([[annBruteforceTopk]]) — the index-quality eval every ANN
   * deployment runs before trusting an approximate index, expressed as
   * a query over the two retrieval pipelines. Integer per-mille
   * (recall = overlap·1000 div k, MRR = 1000 div rank-of-true-best),
   * so the scorecard is hash-exact.
   *
   * Scale shape: both pipelines are the already-scale-shaped retrieval
   * queries; the eval itself joins two k·|queries|-row tables on
   * (query, neighbor) — trivial at any scale. Measuring recall against
   * FULL brute force is only possible on a sample of queries (here the
   * standard 8-query batch); production evals sample exactly this way.
   */
  def evalRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteforceTopk(spark, dir)
    val ivf = annIvfTopk(spark, dir)
    val qs = bf.select(col("q_id")).distinct()
    val ov = bf.as("b").join(ivf.as("i"),
        col("b.q_id") === col("i.q_id") && col("b.neighbor_id") === col("i.neighbor_id"))
      .groupBy(col("b.q_id").as("q_id")).agg(count(lit(1)).as("n_overlap"))
    val best = bf.filter(col("rnk") === 1).select(col("q_id"), col("neighbor_id"))
    val br = best.as("b").join(ivf.as("i"),
        col("b.q_id") === col("i.q_id") && col("b.neighbor_id") === col("i.neighbor_id"),
        "left")
      .groupBy(col("b.q_id").as("q_id")).agg(min(col("i.rnk")).as("best_rank"))
    qs.join(ov, Seq("q_id"), "left").join(br, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) * (1000L / K)).as("recall_pm"),
        coalesce(col("best_rank"), lit(0)).as("best_rank_in_ivf"),
        when(col("best_rank").isNotNull, expr("1000 div best_rank"))
          .otherwise(0L).as("mrr_pm"))
  }

  val evalRetrievalSql: String =
    s"""WITH bf AS ($annBruteforceTopkSql),
       |ivf AS ($annIvfTopkSql),
       |qs2 AS (SELECT DISTINCT q_id FROM bf),
       |ov AS (
       |  SELECT bf.q_id, COUNT(*) AS n_overlap
       |  FROM bf JOIN ivf ON ivf.q_id = bf.q_id AND ivf.neighbor_id = bf.neighbor_id
       |  GROUP BY 1),
       |best AS (SELECT q_id, neighbor_id FROM bf WHERE rnk = 1),
       |br AS (
       |  SELECT b.q_id, MIN(ivf.rnk) AS best_rank
       |  FROM best b LEFT JOIN ivf ON ivf.q_id = b.q_id AND ivf.neighbor_id = b.neighbor_id
       |  GROUP BY 1)
       |SELECT q.q_id,
       |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       |  CAST(coalesce(ov.n_overlap, 0) * ${1000L / K} AS BIGINT) AS recall_pm,
       |  CAST(coalesce(br.best_rank, 0) AS INT) AS best_rank_in_ivf,
       |  CAST(CASE WHEN br.best_rank IS NOT NULL THEN 1000 // br.best_rank
       |            ELSE 0 END AS BIGINT) AS mrr_pm
       |FROM qs2 q
       |LEFT JOIN ov ON ov.q_id = q.q_id
       |LEFT JOIN br ON br.q_id = q.q_id""".stripMargin

  // ---------------------------------------------- PQ distortion audit

  /** Nano-unit fixed-point scale for per-vector reconstruction error. */
  private val PqErrScale = 1000000000L

  /**
   * PQ RECONSTRUCTION-DISTORTION AUDIT [EXT] — the compression-quality
   * table read before shipping a PQ index: per (subspace, code), how
   * many vectors landed on the code and their mean squared
   * reconstruction error ‖sv − codebook[code]‖². Lopsided occupancy
   * (one code hoarding a subspace) or an MSE outlier names exactly
   * which codebook needs more Lloyd steps or a larger k — the audit
   * [[annPqTopk]]'s recall number can't localize.
   *
   * Codebooks and code assignment are [[pqTrainBooks]]/[[pqCodes]]
   * verbatim (bit-identical to the ann_pq_topk oracle CTEs); the error
   * is the same strict left-to-right l2sq fold PQ trains on, quantized
   * ONCE per vector to nano units so the per-code totals are exact
   * integer sums (the mix_kl contract — never a float fold across rows
   * whose order could differ).
   *
   * Scale shape: training is the k·dim collect-and-rebroadcast; the
   * audit itself is ONE zero-shuffle projection (codes + per-subspace
   * error in a single literal-codebook pass) exploded to [[PqM]] rows
   * per vector, then one (subspace, code)-keyed aggregate — 16·8 output
   * rows at any corpus size.
   */
  def embedPqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val c = corpus(spark, dir).select(col("vec_id"), col("v"))
    val books = pqTrainBooks(c)
    val errArr = array((0 until PqM).map { m =>
      val code = element_at(col("cs"), m + 1)
      val cvMap = map_from_entries(transform(bookLit(books(m)), cb =>
        struct(cb.getField("c"), cb.getField("cv"))))
      struct(lit(m.toLong).as("subspace"), code.as("code"),
             l2sq(pqSub(m, col("v")), element_at(cvMap, code)).as("err"))
    }: _*)
    c.withColumn("cs", pqCodes(col("v"), books))
      .select(explode(errArr).as("e"))
      .select(col("e.subspace").as("subspace"), col("e.code").as("code"),
              round(col("e.err") * PqErrScale).cast("long").as("err_fp"))
      .groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("err_fp")).as("err_fp_sum"))
      .withColumn("mse_nano", expr("err_fp_sum div n_vecs"))
  }

  /** Oracle: the ann_pq_topk training CTEs verbatim; the same fold and
    * nano quantization per vector, exact integer sums per code. */
  val embedPqDistortionSql: String = {
    val per = (0 until PqM).map { m =>
      s"""SELECT CAST($m AS BIGINT) AS subspace, k.code AS code,
         |  CAST(round(${l2sqSql(pqSubSql(m, "c.v"), "g.cv")} * $PqErrScale)
         |       AS BIGINT) AS err_fp
         |FROM corpus c
         |JOIN code_$m k ON k.vec_id = c.vec_id
         |JOIN cent1_$m g ON g.cluster = k.code""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $corpusSql,
       |${pqTrainSqlCtes("corpus", "")},
       |per AS (
       |$per)
       |SELECT subspace, code, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |       CAST(SUM(err_fp) AS BIGINT) AS err_fp_sum,
       |       CAST(SUM(err_fp) // COUNT(*) AS BIGINT) AS mse_nano
       |FROM per GROUP BY 1, 2""".stripMargin
  }
}
