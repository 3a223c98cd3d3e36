package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Deterministic sampling/splitting for a training-data pipeline [EXT]:
 * hash-based train/valid/test assignment and per-stratum fixed-size
 * sampling. Randomness comes from [[Tables.md5Long]] over a salted key, so
 * assignments are (a) stable across runs, engines, partitionings, and
 * cluster sizes — the property `rand()` sampling lacks — and (b) exactly
 * reproducible by the DuckDB oracle.
 *
 * Scale shape: the split is a pure per-row map (no shuffle at all); the
 * per-stratum k-sample is one window over the stratum partition — the
 * standard "sorted-by-hash prefix" reservoir equivalent, one shuffle on
 * the stratum key with no skew risk beyond the strata themselves.
 */
object Sampling {

  /** Salt isolating this split from any other hash use of the same keys. */
  private val Salt = "graft_split_v1:"

  /** 80/10/10 split boundaries over the 100 hash buckets. */
  private[operators] val TrainUpTo = 80
  private[operators] val ValidUpTo = 90

  /** Hash bucket in [0, 100) of a salted id column. */
  private def bucketCol(id: Column, salt: String): Column =
    md5Long(concat(lit(salt), id.cast("string"))) % 100

  /** The 80/10/10 thresholds over a bucket column. */
  private def splitOf(bucket: Column): Column =
    when(bucket < TrainUpTo, "train")
      .when(bucket < ValidUpTo, "valid")
      .otherwise("test")

  /** The split assignment over any id column — shared with pipeline
    * compositions ([[Pipeline.corpusPrep]]) and, under their own salts,
    * the drift checks ([[Profiling.statsKsDrift]]); twin of
    * [[splitSqlExpr]]. */
  private[operators] def splitCol(id: Column, salt: String = Salt): Column =
    splitOf(bucketCol(id, salt))

  /** Per-document split assignment: bucket = md5-hash of the salted doc id
    * mod 100, then fixed 80/10/10 thresholds. Pure map — at 100 TB this
    * pushes down to the scan with zero data movement. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), bucketCol(col("doc_id"), Salt).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))

  /** The split-assignment SQL expressions, shared with every oracle that
    * composes on the split (e.g. [[splitContamination]]). Defined BEFORE
    * their uses — object vals initialize in declaration order. */
  private[operators] def bucketSqlExprFor(idCol: String): String =
    s"CAST(('0x' || substring(md5('$Salt' || CAST($idCol AS VARCHAR)), 1, 15)) AS BIGINT) % 100"
  private[operators] def splitSqlExprFor(idCol: String): String =
    s"""CASE WHEN ${bucketSqlExprFor(idCol)} < $TrainUpTo THEN 'train'
       |     WHEN ${bucketSqlExprFor(idCol)} < $ValidUpTo THEN 'valid'
       |     ELSE 'test' END""".stripMargin
  private[operators] val bucketSqlExpr: String = bucketSqlExprFor("doc_id")
  private[operators] val splitSqlExpr: String = splitSqlExprFor("doc_id")

  val sampleSplitSql: String =
    s"""SELECT doc_id, lang,
       |  $bucketSqlExpr AS bucket,
       |  $splitSqlExpr AS split
       |FROM documents""".stripMargin

  /**
   * Train/test leakage detection (benchmark decontamination): count the
   * near-dup candidate pairs whose two documents landed in DIFFERENT
   * splits — exactly the pairs that leak evaluation data into training.
   * Composes the MinHash-LSH pair table with the hash split; the pair
   * table is O(near-dups), so the contamination join is tiny next to the
   * corpus at any scale. A production pipeline filters (or re-assigns by
   * cluster representative) every pair where split_a ≠ split_b.
   */
  def splitContamination(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
    val split = sampleSplit(spark, dir).select(col("doc_id"), col("split"))
    pairs
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"),
           sum(when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
             .as("n_leaky"))
  }

  val splitContaminationSql: String =
    s"""${Dedup.minhashPairsCtes},
       |sp AS (SELECT doc_id, $splitSqlExpr AS split FROM documents)
       |SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky
       |FROM pairs
       |JOIN sp sa ON sa.doc_id = pairs.doc_a
       |JOIN sp sb ON sb.doc_id = pairs.doc_b
       |GROUP BY 1, 2""".stripMargin

  /** Overlapping n-gram width for exact-match decontamination. */
  private val DecontamN = 5

  /** Shared-n-gram count at which a (train, test) pair is a leak. */
  private val DecontamMinShared = 3

  /** Document-frequency cap on decontamination n-grams: a gram shared by
    * more docs than this is boilerplate, carries no contamination signal,
    * and would contribute O(df_train · df_test) join rows — the same
    * quadratic edge the jaccard shingle df-cap closes. Testdata max df is
    * 3, so the gate proves the cap inert at sf0.01/sf0.1. */
  private val DecontamDfCap = 64

  /**
   * Exact n-gram train/test decontamination [EXT] — the standard
   * benchmark-leakage check (the "13-gram overlap" rule of web-scale LLM
   * corpora, width [[DecontamN]] here to suit the synthetic corpus):
   * for every (train doc, test doc) pair sharing ≥ 1 distinct
   * [[DecontamN]]-gram, count the shared grams and flag pairs at
   * ≥ [[DecontamMinShared]] as leaks. Complements [[splitContamination]]:
   * that one scores MinHash near-dup pairs, this one is the exact-match
   * path that catches verbatim quote-level leakage near-dup hashing
   * misses.
   *
   * Scale shape at 100 TB: grams are hashed per row (md5-derived 60-bit),
   * de-duplicated per doc by ONE aggregate, and df-capped before the
   * train⨝test equi-join on the 8-byte hash — no gram text ever crosses a
   * shuffle, and the hot-gram quadratic edge is closed by construction.
   */
  def splitNgramDecontam(spark: SparkSession, dir: String): DataFrame = {
    import Tables.md5Long
    // the valid split joins neither side — drop it before gram explosion;
    // split is a pure function of doc_id, so the de-dup shuffle carries
    // only (doc_id, hash) and the split string is re-derived afterwards
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"),
              graft.functions.TextFunctions.wsTokens(col("text")).as("ts"))
      .filter(col("split") =!= "valid")
    val grams = d.select(col("doc_id"),
        explode(graft.functions.TextFunctions.ngramsJoined(col("ts"), DecontamN))
          .as("gram"))
      .select(col("doc_id"), md5Long(col("gram")).as("h"))
      .distinct()
      .withColumn("split", splitCol(col("doc_id")))
    // ONE aggregate per gram hash carries the per-split doc lists, so the
    // df-cap, the train/test partitioning, and the pair generation all
    // come out of a single shuffle of the gram table (a df-then-join
    // formulation re-shuffled the corpus twice more and measured 35%
    // slower). The collectors stop RETAINING at cap+1 entries
    // (CollectLongsCapped — r17; plain collect_list built the FULL
    // posting list for a hot gram before the filter discarded it, the
    // boilerplate-gram unbounded-buffer edge). The size-sum filter is
    // exact: each retained size is min(df_split, cap+1), so the sum
    // exceeds the cap iff true df does — surviving lists are provably
    // complete, executor state is ≤ 2·(cap+1) longs per group.
    val cl = (c: Column) => graft.functions.CollectLongsCapped
      .collectLongsCapped(c, DecontamDfCap + 1)
    val byGram = grams.groupBy(col("h"))
      .agg(cl(when(col("split") === "train", col("doc_id"))).as("tr"),
           cl(when(col("split") === "test", col("doc_id"))).as("te"))
      .filter(size(col("tr")) + size(col("te")) <= DecontamDfCap &&
              size(col("tr")) > 0 && size(col("te")) > 0)
    byGram
      .select(explode(col("tr")).as("train_doc"), col("te"))
      .select(col("train_doc"), explode(col("te")).as("test_doc"))
      .groupBy(col("train_doc"), col("test_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("flag",
        when(col("n_shared") >= DecontamMinShared, "leak").otherwise("ok"))
  }

  val splitNgramDecontamSql: String =
    s"""WITH d AS (SELECT * FROM (
       |       SELECT doc_id, $splitSqlExpr AS split,
       |              string_split_regex(text, '\\s+') AS ts FROM documents)
       |     WHERE split <> 'valid'),
       |g0 AS (SELECT doc_id, split,
       |        unnest(CASE WHEN len(ts) >= $DecontamN
       |          THEN list_transform(range(1, len(ts) - ${DecontamN - 2}),
       |                 i -> array_to_string(ts[i : i + ${DecontamN - 1}], ' '))
       |          ELSE [] END) AS gram FROM d),
       |h AS (SELECT DISTINCT split, doc_id,
       |        CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) AS h FROM g0),
       |dfall AS (SELECT h, COUNT(*) AS df FROM h GROUP BY 1),
       |tr AS (SELECT h.doc_id AS train_doc, h.h FROM h JOIN dfall USING (h)
       |       WHERE split = 'train' AND df <= $DecontamDfCap),
       |te AS (SELECT h.doc_id AS test_doc, h.h FROM h JOIN dfall USING (h)
       |       WHERE split = 'test' AND df <= $DecontamDfCap)
       |SELECT train_doc, test_doc, CAST(COUNT(*) AS BIGINT) AS n_shared,
       |  CASE WHEN COUNT(*) >= $DecontamMinShared THEN 'leak' ELSE 'ok' END AS flag
       |FROM tr JOIN te USING (h) GROUP BY 1, 2""".stripMargin

  /** Salt isolating the mixing sample from the split hash. */
  private val MixSalt = "graft_mix_v1:"

  /**
   * Deterministic domain mixing [EXT] — resample the corpus to a target
   * relative weight per `source` domain (the data-recipe step of every
   * large pretraining corpus: N× up-weight curated domains, down-weight
   * crawl). Down-sampling only: the scaling constant c is chosen as
   * `min_s(n_s·10⁶ div w_s)` so the most under-represented domain keeps
   * (up to floor rounding) all its documents and every other domain keeps
   * `k_s = (c·w_s) div 10⁶ ≤ n_s` — the largest corpus achieving the
   * target mix without repetition. Selection within a domain is the
   * [[PerStratum]]-style smallest-salted-hash prefix, so membership is
   * stable under corpus growth and engine-reproducible.
   *
   * Scale shape: one count per domain (tiny agg), the scalar c via a
   * broadcast of that domain table, then DISTRIBUTED SELECTION of each
   * domain's k smallest hashes: a naive `row_number() over (partition by
   * source)` would sort one whole domain per reducer — a single-machine
   * sort of a billion-doc domain at corpus scale. Instead a 256-bucket
   * histogram of the top hash bits (one tiny aggregate) locates the
   * bucket containing each domain's k-th order statistic; everything in
   * lower buckets is kept by a pure filter, and only the ~1/256-of-a-
   * domain boundary bucket is ever ranked. Output is IDENTICAL to the
   * naive rank (the k smallest by (h, doc_id)), so the oracle keeps the
   * simple formulation — same pattern as the salted join gated against
   * the plain-join oracle. Integer arithmetic throughout.
   */
  /** k-smallest-salted-hash selection per key via 256-bucket histogram
    * selection: buckets entirely under the k-th order statistic are kept
    * by pure filter; ONLY the single straddling bucket (~1/256 of the
    * key's rows) is ranked. A whole-key window sort would be one reducer
    * per key at 100 TB. `weighted` must carry (key, doc_id, h, bkt);
    * `quota` carries (key, k). Shared by [[mixDomains]] and
    * [[mixTemperature]]. */
  private def histogramSelect(weighted: DataFrame, quota: DataFrame,
                              key: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col(key)).orderBy(col("bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = weighted.groupBy(col(key), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
      .join(broadcast(quota.select(col(key), col("k"))), key)
    val keepAll = hist.filter(col("below") + col("cnt") <= col("k"))
      .select(col(key), col("bkt"))
    val boundary = hist
      .filter(col("below") < col("k") && col("below") + col("cnt") > col("k"))
      .select(col(key), col("bkt"), (col("k") - col("below")).as("room"))
    val wB = Window.partitionBy(col(key))
      .orderBy(col("h").asc, col("doc_id").asc)
    val keptBoundary = weighted
      .join(broadcast(boundary), Seq(key, "bkt"))
      .withColumn("rnk", row_number().over(wB))
      .filter(col("rnk") <= col("room"))
      .select(col(key), col("doc_id"))
    weighted.join(broadcast(keepAll), Seq(key, "bkt"), "left_semi")
      .select(col(key), col("doc_id"))
      .union(keptBoundary)
  }

  def mixDomains(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
              md5Long(concat(lit(MixSalt), col("doc_id").cast("string"))).as("h"))
    // target relative weight per domain, derived from the domain id so
    // the demo needs no side-channel config: src0,src4,… → 1 … src3,src7,… → 4
    // Cut: weighted feeds the domain counts, the bucket histogram, the
    // boundary rank, and the keep-filter — without it the executed plan
    // re-scans documents (and re-hashes doc ids) up to 10×. The cut table
    // is 5 narrow columns, the r15 mad_outliers decision rule.
    val weighted = Checkpoints.cut(docs.withColumn("w",
      expr("CAST(substr(source, 4) AS BIGINT) % 4 + 1"))
      .withColumn("bkt", expr(s"h div ${1L << 52}"))) // top 8 of 60 hash bits
    val byDomain = weighted.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n_docs"))
    val c = byDomain.agg(min(expr("(n_docs * 1000000) div w")).as("c"))
    val quota = byDomain.crossJoin(broadcast(c))
      .withColumn("k", expr("(c * w) div 1000000"))
      .select(col("source"), col("w"), col("n_docs"), col("k"))
    val kept = histogramSelect(weighted, quota, "source")
    kept
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      .join(broadcast(quota), "source")
      .withColumn("kept_pm",
        expr("(n_kept * 1000000) div CAST(SUM(n_kept) OVER () AS BIGINT)"))
      .select(col("source"), col("w"), col("n_docs"), col("n_kept"),
              col("kept_pm"))
  }

  val mixDomainsSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |         CAST(('0x' || substring(md5('$MixSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
       |         CAST(substring(source, 4) AS BIGINT) % 4 + 1 AS w
       |  FROM documents),
       |bydom AS (
       |  SELECT source, w, COUNT(*) AS n_docs FROM docs GROUP BY 1, 2),
       |c AS (SELECT MIN((n_docs * 1000000) // w) AS c FROM bydom),
       |quota AS (
       |  SELECT source, w, n_docs, (c.c * w) // 1000000 AS k FROM bydom, c),
       |ranked AS (
       |  SELECT doc_id, source,
       |         row_number() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS rnk
       |  FROM docs),
       |kept AS (
       |  SELECT r.source, COUNT(*) AS n_kept
       |  FROM ranked r JOIN quota q ON q.source = r.source
       |  WHERE r.rnk <= q.k GROUP BY 1)
       |SELECT source, CAST(w AS BIGINT) AS w, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(n_kept AS BIGINT) AS n_kept,
       |       (CAST(n_kept AS BIGINT) * 1000000) // CAST(SUM(n_kept) OVER () AS BIGINT) AS kept_pm
       |FROM kept JOIN quota USING (source)""".stripMargin

  /** Per-stratum k. */
  private val PerStratum = 5

  /** Stratified fixed-size sample: the [[PerStratum]] documents with the
    * smallest salted hash per (lang, source) stratum — a deterministic
    * uniform-without-replacement sample (hash order is independent of any
    * data attribute), ranked by one window over the stratum. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("h").asc, col("doc_id").asc)
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
              md5Long(concat(lit(Salt), col("doc_id").cast("string"))).as("h"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= PerStratum)
      .select(col("lang"), col("source"), col("rnk"), col("doc_id"))
  }

  val sampleStratifiedSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang, source,
       |         CAST(('0x' || substring(md5('$Salt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM documents)
       |SELECT lang, source, CAST(rnk AS INT) AS rnk, doc_id FROM (
       |  SELECT lang, source, doc_id,
       |         row_number() OVER (PARTITION BY lang, source ORDER BY h ASC, doc_id ASC) AS rnk
       |  FROM h)
       |WHERE rnk <= $PerStratum""".stripMargin

  // ------------------------------------------------- weighted sampling

  /** Weighted-sample size, hash salt, and the u-quantum (u is drawn as
    * an exact rational k/[[WScale]], k ∈ 1..WScale). */
  private val WeightedK = 100
  private val WSalt = "graft_wsample_v1:"
  private val WScale = 1000000L

  /**
   * Deterministic weighted sampling without replacement [EXT] — priority
   * sampling (Duffield–Lund–Thorup): each document draws u ∈ (0,1] from
   * its salted md5 hash and gets priority q = w/u with weight
   * w = n_chars; the [[WeightedK]] largest priorities are the sample.
   * Inclusion probability is ∝ min(1, w/τ) — long documents (more
   * training tokens) are proportionally more likely to be kept, the
   * standard size-weighted corpus subsample. Chosen over the
   * Efraimidis–Spirakis exponential form (key = −ln u / w) DELIBERATELY:
   * u is the exact rational (h mod [[WScale]] + 1)/[[WScale]], so
   * q = w·[[WScale]]/(h mod [[WScale]] + 1) is one IEEE division of two
   * exact integers — correctly rounded, bit-identical across engines —
   * whereas ln/pow is libm and engine-dependent at the last ulp, exactly
   * where a rank boundary could flip.
   *
   * Scale shape: priority is a pure per-row map; top-K by priority is
   * `TakeOrderedAndProject` — a map-side K-heap per partition and a
   * single K-row reduce, ZERO full shuffle at any corpus size. This (not
   * the window-rank form) is why priority sampling is the streaming /
   * petabyte weighted-sample primitive: the sketch is mergeable.
   */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
              (md5Long(concat(lit(WSalt), col("doc_id").cast("string")))
                 % WScale + 1L).as("u_q"))
      .withColumn("priority",
        (col("n_chars") * WScale).cast("double") / col("u_q").cast("double"))
      .orderBy(col("priority").desc, col("doc_id").asc)
      .limit(WeightedK)

  /** Oracle: identical integer-rational priorities, same ORDER BY cut. */
  val sampleWeightedSql: String =
    s"""WITH p AS (
       |  SELECT doc_id, lang, n_chars,
       |         CAST(('0x' || substring(md5('$WSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % $WScale + 1 AS u_q
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, CAST(u_q AS BIGINT) AS u_q,
       |       CAST(n_chars * $WScale AS DOUBLE) / CAST(u_q AS DOUBLE) AS priority
       |FROM p
       |ORDER BY priority DESC, doc_id ASC
       |LIMIT $WeightedK""".stripMargin

  // ----------------------------------------------------- token-budget cut

  /** Budget selection parameters: keep the best-quality ~[[BudgetPct]]%
    * of corpus TOKENS; threshold estimated from a bottom-[[BudgetK]]-
    * by-md5 document sample (the mergeable KMV shape — zero shuffles). */
  private val BudgetPct = 25L
  private val BudgetK = 256
  private val BudgetSalt = "tokbudget1"

  /**
   * Token-budget selection [EXT]: every pretraining run has a token
   * budget, not a document budget — "keep the highest-quality documents
   * until ~B tokens" is the selection a data-mixing pass actually
   * executes. A literal implementation is a global quality sort with a
   * running token sum — a single-partition window, the classic
   * scale-killer. This is the estimator form instead: from a
   * bottom-[[BudgetK]]-by-md5 sample, find the quality-score threshold
   * at which the sample's cumulative tokens (in score-desc order) first
   * reach [[BudgetPct]]% of the sample's tokens, then keep `score >=
   * threshold` as a zero-shuffle scan filter. Sample error moves the
   * achieved budget a few percent — the estimator is the petabyte
   * shape, and both engines compute the identical threshold.
   *
   * Score is the integer alpha-density heuristic
   * `(alpha_chars * 1000) div n_chars` (denser running text wins);
   * tokens are whitespace-token counts. All integer arithmetic — the
   * threshold walk, the target `ceil(pct% of sample tokens)`, and the
   * keep comparison are exact in both engines.
   */
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val scored = Checkpoints.cut(
      t(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.wsTokens(col("text")).as("ts"),
          col("n_chars"))
        .select(col("doc_id"),
          size(col("ts")).cast("long").as("n_tokens"),
          expr("(aggregate(transform(ts, x -> length(x)), 0L, (a, x) -> a + x)" +
               " * 1000) div n_chars").as("score")))
    val samp = scored
      .select(col("score"), col("n_tokens"),
        md5Long(concat(lit(BudgetSalt), col("doc_id").cast("string"))).as("hk"))
      .orderBy(col("hk").asc).limit(BudgetK)
      .collect()
    require(samp.nonEmpty, "sample_token_budget: empty documents corpus")
    // walk the sample in (score DESC, hk ASC) order; the threshold is
    // the score of the first row whose running token sum reaches the
    // budget target — ceil so a tiny sample still selects something
    val rows = samp.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (s, _, hk) => (-s, hk) }
    val sampleTokens = rows.map(_._2).sum
    val target = (sampleTokens * BudgetPct + 99L) / 100L
    var cum = 0L
    var thr = rows.last._1
    val it = rows.iterator
    var found = false
    while (it.hasNext && !found) {
      val (s, tk, _) = it.next()
      cum += tk
      if (cum >= target) { thr = s; found = true }
    }
    scored.select(col("doc_id"), col("n_tokens"), col("score"),
      (col("score") >= lit(thr)).as("kept"))
  }

  /** Oracle: identical score, sample, cumulative walk (as a window over
    * the 256-row sample), and threshold rule. */
  val sampleTokenBudgetSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
       |    list_aggregate(list_transform(string_split_regex(text, '\\s+'),
       |                                  x -> CAST(length(x) AS BIGINT)), 'sum')
       |      * 1000 // n_chars AS score
       |  FROM documents),
       |samp AS (
       |  SELECT score, n_tokens,
       |    CAST(('0x' || substring(md5('$BudgetSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
       |  FROM scored ORDER BY hk ASC LIMIT $BudgetK),
       |walk AS (
       |  SELECT score,
       |    SUM(n_tokens) OVER (ORDER BY score DESC, hk ASC
       |                        ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM samp),
       |tgt AS (SELECT (SUM(n_tokens) * $BudgetPct + 99) // 100 AS target FROM samp),
       |thr AS (
       |  SELECT COALESCE((SELECT MAX(score) FROM walk, tgt WHERE cum >= target),
       |                  (SELECT MIN(score) FROM samp)) AS t)
       |SELECT doc_id, n_tokens, CAST(score AS BIGINT) AS score,
       |       score >= thr.t AS kept
       |FROM scored CROSS JOIN thr""".stripMargin

  // -------------------------------------------------- domain excess weights

  /**
   * Excess-loss domain weights [EXT] — the DoReMi-flavored reweighting a
   * mixing pass derives from a proxy LM: domains whose text the
   * reference LM finds HARDER than the corpus average (positive excess
   * mean −ln p) get proportionally more weight, bounded below so no
   * domain starves. The LM is the add-one unigram model over the
   * train-split vocabulary ([[TextAnalysis.textUnigramLm]]'s aggregate);
   * the weights are `(excess_micro + 1) / Σ(excess_micro + 1)` in exact
   * ppm integers.
   *
   * Determinism: per-source mean −ln p is rounded to 6 decimals (sums
   * of ~1e5 doubles carry ~1e-12 mean error — six decimals is 6 orders
   * of margin), the corpus mean likewise; their difference is then an
   * exact multiple of 1e-6, so excess_micro and every weight are exact
   * integers in both engines.
   *
   * Scale shape: vocabulary aggregate → broadcast scoring join → ONE
   * per-source aggregate (source-count-sized result); the corpus mean
   * and the weight normalizer are broadcasts of 1-row/`S`-row
   * aggregates over that table.
   */
  def mixDomainWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("source"), splitCol(col("doc_id")).as("split"),
              explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("tok"))
    val vocab = d.filter(col("split") === "train")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum(col("c")).as("t_total"), count(lit(1)).as("v_size"))
    val perSource = Checkpoints.cut(
      d.join(broadcast(vocab), Seq("tok"), "left")
        .crossJoin(broadcast(totals))
        .select(col("source"),
          (-log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
                (col("t_total") + col("v_size")).cast("double"))).as("neglogp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
             round(sum(col("neglogp")) / count(lit(1)), 6).as("nl_s")))
    val corpus = perSource.agg(
      round(sum(col("nl_s") * col("n_tokens")) / sum(col("n_tokens")), 6)
        .as("nl_all"))
    val raw = perSource.crossJoin(broadcast(corpus))
      .select(col("source"), col("n_tokens"), col("nl_s"), col("nl_all"),
        (greatest(lit(0L),
          round((col("nl_s") - col("nl_all")) * 1e6).cast("long")) + 1L)
          .as("w_raw"))
    val norm = raw.agg(sum(col("w_raw")).as("w_sum"))
    raw.crossJoin(broadcast(norm))
      .select(col("source"), col("n_tokens"), col("nl_s").as("mean_neglogp"),
        (col("w_raw") - 1L).as("excess_micro"),
        expr("(w_raw * 1000000) div w_sum").as("weight_ppm"))
  }

  /** Oracle: identical LM, per-source rounding, token-weighted corpus
    * mean, and exact integer weight normalization. */
  val mixDomainWeightsSql: String =
    s"""WITH d AS (SELECT source, $splitSqlExpr AS split,
       |                  string_split_regex(text, '\\s+') AS ts FROM documents),
       |tok AS (SELECT source, split, unnest(ts) AS tok FROM d),
       |vocab AS (SELECT tok, COUNT(*) AS c FROM tok WHERE split = 'train' GROUP BY 1),
       |totals AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM vocab),
       |ps AS (
       |  SELECT t.source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    round(SUM(-ln(CAST(coalesce(v.c, 0) + 1 AS DOUBLE)
       |                  / (tt.t_total + tt.v_size))) / COUNT(*), 6) AS nl_s
       |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt
       |  GROUP BY 1),
       |corpus AS (
       |  SELECT round(SUM(nl_s * n_tokens) / SUM(n_tokens), 6) AS nl_all FROM ps),
       |raw AS (
       |  SELECT source, n_tokens, nl_s,
       |    GREATEST(0, CAST(round((nl_s - nl_all) * 1e6) AS BIGINT)) + 1 AS w_raw
       |  FROM ps CROSS JOIN corpus),
       |norm AS (SELECT CAST(SUM(w_raw) AS BIGINT) AS w_sum FROM raw)
       |SELECT source, n_tokens, nl_s AS mean_neglogp,
       |  w_raw - 1 AS excess_micro,
       |  CAST((w_raw * 1000000) // w_sum AS BIGINT) AS weight_ppm
       |FROM raw CROSS JOIN norm""".stripMargin

  // ---------------------------------------------------- n-gram coverage

  /**
   * Eval-set n-gram novelty [EXT] — the memorization/coverage meter a
   * pretraining analysis runs before trusting benchmark numbers: what
   * fraction of the TEST split's distinct {1,2,3}-grams never occur in
   * the TRAIN split? High coverage at high n means the eval set is
   * effectively memorizable from training data (the aggregate
   * complement of the pairwise [[splitNgramDecontam]] audit). Grams are
   * md5-hashed to 8-byte keys BEFORE the distinct aggregates, so the
   * shuffles carry hashes, never text — the same trick every dedup
   * operator here uses.
   *
   * Scale shape: one exploded corpus pass per n (3 total) → hash
   * distinct per split → one anti-join of gram-set-sized tables → a
   * 3-row result. Exact integers throughout (ppm by integer division).
   */
  def corpusNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents")
      .select(splitCol(col("doc_id")).as("split"),
              graft.functions.TextFunctions.wsTokens(col("text")).as("ts"))
      .filter(col("split").isin("train", "test"))
    def grams(n: Int): DataFrame = {
      val gcol = if (n == 1) col("ts")
                 else graft.functions.TextFunctions.ngramsJoined(col("ts"), n)
      base.select(lit(n).as("n"), col("split"), explode(gcol).as("g"))
        .select(col("n"), col("split"), md5Long(col("g")).as("h")).distinct()
    }
    val all = Checkpoints.cut(grams(1).union(grams(2)).union(grams(3)))
    val test = all.filter(col("split") === "test").select(col("n"), col("h"))
    val train = all.filter(col("split") === "train").select(col("n"), col("h"))
    val novel = test.join(train, Seq("n", "h"), "left_anti")
      .groupBy(col("n")).agg(count(lit(1)).as("n_novel"))
    test.groupBy(col("n")).agg(count(lit(1)).as("n_test_grams"))
      .join(novel, Seq("n"), "left").na.fill(0L, Seq("n_novel"))
      .select(col("n"), col("n_test_grams"), col("n_novel"),
        expr("(n_novel * 1000000) div n_test_grams").as("novelty_ppm"))
  }

  /** Oracle: identical hash-gram distincts and anti-join per n. */
  val corpusNgramCoverageSql: String = {
    def gramsSql(n: Int): String =
      if (n == 1) "unnest(ts) AS g"
      else if (n == 2)
        """unnest(list_filter(list_transform(ts, (x, i) ->
          |  CASE WHEN i + 1 <= len(ts) THEN x || ' ' || ts[i+1] END),
          |  s -> s IS NOT NULL)) AS g""".stripMargin
      else
        """unnest(list_filter(list_transform(ts, (x, i) ->
          |  CASE WHEN i + 2 <= len(ts) THEN x || ' ' || ts[i+1] || ' ' || ts[i+2] END),
          |  s -> s IS NOT NULL)) AS g""".stripMargin
    val levels = Seq(1, 2, 3).map { n =>
      s"""SELECT DISTINCT $n AS n, split,
         |  CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS h
         |FROM (SELECT split, ${gramsSql(n)} FROM d)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
       |  SELECT $splitSqlExpr AS split,
       |         string_split_regex(text, '\\s+') AS ts
       |  FROM documents
       |  WHERE $splitSqlExpr IN ('train', 'test')),
       |allg AS (
       |$levels),
       |tst AS (SELECT n, h FROM allg WHERE split = 'test'),
       |trn AS (SELECT n, h FROM allg WHERE split = 'train'),
       |novel AS (
       |  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_novel
       |  FROM tst WHERE NOT EXISTS
       |    (SELECT 1 FROM trn WHERE trn.n = tst.n AND trn.h = tst.h)
       |  GROUP BY 1)
       |SELECT t.n, CAST(COUNT(*) AS BIGINT) AS n_test_grams,
       |  COALESCE(MAX(novel.n_novel), 0) AS n_novel,
       |  CAST((COALESCE(MAX(novel.n_novel), 0) * 1000000) // COUNT(*) AS BIGINT)
       |    AS novelty_ppm
       |FROM tst t LEFT JOIN novel ON novel.n = t.n
       |GROUP BY 1""".stripMargin
  }

  // ----------------------------------------------------- upsampling epochs

  /** Token-budget multiple for [[mixUpsampleEpochs]]: the recipe trains
    * on 2× the corpus token count, so the average domain runs 2 epochs. */
  private val EpochBudgetX = 2L

  /**
   * Per-domain epoch allocation [EXT] — the complement of the
   * downsample-only [[mixDomains]]/[[mixTemperature]] recipes: given a
   * TRAINING TOKEN BUDGET (here [[EpochBudgetX]]× the corpus), assign
   * each source a √-temperature share and report how many EPOCHS of
   * that source the share buys — the "small domains repeat, huge
   * domains see a fraction" arithmetic every data recipe publishes
   * (epochs > budget× means upsampled). Integer end-to-end: the proven
   * ⌊√n⌋ weight idiom, ppm shares by integer division, milli-epochs
   * `(B · share_ppm) div (1000 · n_tokens)`. (At 10¹⁴+ tokens the
   * products need decimal(38) — the chi2 widening — noted, not needed
   * at fixture scale.)
   *
   * Scale shape: ONE corpus-scan token count per source; everything
   * after is arithmetic on the source-count-sized table (the window
   * totals run over S rows).
   */
  def mixUpsampleEpochs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source"),
              size(graft.functions.TextFunctions.wsTokens(col("text")))
                .cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("share_ppm",
        expr("(w * 1000000) div CAST(SUM(w) OVER () AS BIGINT)"))
      .withColumn("budget",
        expr(s"$EpochBudgetX * CAST(SUM(n_tokens) OVER () AS BIGINT)"))
      .select(col("source"), col("n_tokens"), col("w"), col("share_ppm"),
        expr("(budget * share_ppm) div (1000 * n_tokens)").as("epochs_milli"),
        expr(s"(budget * share_ppm) div (1000 * n_tokens) > ${EpochBudgetX * 1000}")
          .as("upsampled"))

  /** Oracle: identical ⌊√n⌋ weights, ppm shares, and milli-epoch
    * divisions. */
  val mixUpsampleEpochsSql: String =
    s"""WITH ps AS (
       |  SELECT source,
       |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |wt AS (
       |  SELECT source, n_tokens,
       |         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w
       |  FROM ps),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS sw,
       |               $EpochBudgetX * CAST(SUM(n_tokens) AS BIGINT) AS budget
       |        FROM wt)
       |SELECT source, n_tokens, w,
       |  CAST((w * 1000000) // sw AS BIGINT) AS share_ppm,
       |  CAST((budget * ((w * 1000000) // sw)) // (1000 * n_tokens) AS BIGINT)
       |    AS epochs_milli,
       |  (budget * ((w * 1000000) // sw)) // (1000 * n_tokens)
       |    > ${EpochBudgetX * 1000} AS upsampled
       |FROM wt CROSS JOIN tot""".stripMargin

  // --------------------------------------------------- domain KL divergence

  /** Hashed-unigram space size and the nano-nat fixed-point scale for
    * per-bucket KL terms. */
  private val KlBuckets = 512L
  private val KlScale = 1000000000L

  /** The add-one smoothing grid of [[mixKlDivergence]] and
    * [[mixJsDivergence]]: tokens hash to [[KlBuckets]] md5 buckets, ONE
    * corpus-scan aggregate counts them per (source, b), and the dense
    * sources × buckets grid carries each cell's count `c_sb` (0 if
    * absent), the source total `n_s`, the corpus marginal `c_b` and the
    * corpus total `n`. Everything after the aggregate is arithmetic on
    * its KB-sized result; no join ever carries text. */
  private def smoothingGrid(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("source"),
              explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("tok"))
      .select(col("source"), (md5Long(col("tok")) % KlBuckets).as("b"))
    // four consumers below — cut so the scan+hash pass runs once
    val sb = Checkpoints.cut(
      toks.groupBy(col("source"), col("b")).agg(count(lit(1)).as("c_sb")),
      eager = false)
    val qb = sb.groupBy(col("b")).agg(sum(col("c_sb")).as("c_b"))
    val ns = sb.groupBy(col("source")).agg(sum(col("c_sb")).as("n_s"))
    val nAll = broadcast(sb.agg(sum(col("c_sb")).as("n")))
    ns.crossJoin(broadcast(spark.range(KlBuckets).select(col("id").as("b"))))
      .join(sb, Seq("source", "b"), "left").na.fill(0L, Seq("c_sb"))
      .join(broadcast(qb), Seq("b"), "left").na.fill(0L, Seq("c_b"))
      .crossJoin(nAll)
  }

  /**
   * Per-source KL divergence from the corpus token distribution [EXT] —
   * the domain-shift meter a mixing pass reads before setting weights:
   * KL(p_source ‖ p_corpus) over add-one-smoothed hashed-unigram
   * distributions. A source with high KL is lexically far from the
   * blend (a code dump in a prose corpus, a language outlier); mixing
   * recipes cap or re-weight by exactly this quantity, and decontam
   * audits watch it drift between snapshots. Shares [[dsirImportance]]'s
   * featurization (md5-hashed buckets) and its fixed-point-quantize-
   * then-integer-sum determinism: each (source, bucket) KL term
   * p·ln(p/q) is quantized ONCE to nano-nats, so the per-source total is
   * an exact integer sum — never a float fold whose order could differ.
   *
   * Scale shape: [[smoothingGrid]] — one corpus-scan aggregate, then
   * arithmetic on the sketch-sized sources × buckets grid, intrinsic to
   * smoothing and independent of corpus size.
   */
  def mixKlDivergence(spark: SparkSession, dir: String): DataFrame = {
    val terms = smoothingGrid(spark, dir)
      .select(col("source"), col("n_s"), expr(
        s"""CAST(round(((CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + $KlBuckets AS DOUBLE))
           |  * ln((CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + $KlBuckets AS DOUBLE))
           |       / (CAST(c_b + 1 AS DOUBLE) / CAST(n + $KlBuckets AS DOUBLE))))
           |  * $KlScale) AS LONG)""".stripMargin).as("term_fp"))
    terms.groupBy(col("source"), col("n_s"))
      .agg(sum(col("term_fp")).as("kl_fp"))
      .select(col("source"), col("n_s").as("n_tokens"), col("kl_fp"),
              round(col("kl_fp").cast("double") / KlScale.toDouble, 6)
                .as("kl_nats"))
  }

  /** Oracle: identical smoothing grid and nano-nat quantization. */
  val mixKlDivergenceSql: String =
    s"""WITH tok AS (
       |  SELECT source,
       |         CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % $KlBuckets AS b
       |  FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS t
       |        FROM documents)),
       |sb AS (SELECT source, b, COUNT(*) AS c_sb FROM tok GROUP BY 1, 2),
       |qb AS (SELECT b, SUM(c_sb) AS c_b FROM sb GROUP BY 1),
       |ns AS (SELECT source, SUM(c_sb) AS n_s FROM sb GROUP BY 1),
       |tot AS (SELECT SUM(c_sb) AS n FROM sb),
       |grid AS (
       |  SELECT ns.source, ns.n_s, gb.b
       |  FROM ns CROSS JOIN (SELECT unnest(range(0, $KlBuckets)) AS b) gb),
       |terms AS (
       |  SELECT g.source, g.n_s,
       |    CAST(round(((CAST(COALESCE(s.c_sb, 0) + 1 AS DOUBLE) / CAST(g.n_s + $KlBuckets AS DOUBLE))
       |      * ln((CAST(COALESCE(s.c_sb, 0) + 1 AS DOUBLE) / CAST(g.n_s + $KlBuckets AS DOUBLE))
       |           / (CAST(COALESCE(q.c_b, 0) + 1 AS DOUBLE) / CAST(tot.n + $KlBuckets AS DOUBLE))))
       |      * $KlScale) AS BIGINT) AS term_fp
       |  FROM grid g
       |  LEFT JOIN sb s ON s.source = g.source AND s.b = g.b
       |  LEFT JOIN qb q ON q.b = g.b
       |  CROSS JOIN tot)
       |SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
       |       CAST(SUM(term_fp) AS BIGINT) AS kl_fp,
       |       round(CAST(SUM(term_fp) AS DOUBLE) / $KlScale, 6) AS kl_nats
       |FROM terms GROUP BY 1, 2""".stripMargin

  // --------------------------------------------- Jensen–Shannon divergence

  /**
   * Per-source JENSEN–SHANNON divergence from the corpus blend [EXT] —
   * the symmetric, bounded (≤ ln 2) drift meter most monitoring stacks
   * standardize on where [[mixKlDivergence]] is unbounded and asymmetric:
   *
   *   JS(p, q) = ½·KL(p ‖ m) + ½·KL(q ‖ m),  m = ½(p + q)
   *
   * over the same add-one-smoothed hashed-unigram distributions as the
   * KL gate (p = source, q = corpus). Shared determinism contract: each
   * of the two per-bucket terms p·ln(p/m) and q·ln(q/m) is quantized
   * ONCE to nano-nats and integer-summed; the halving stays OUT of the
   * integer domain (odd sums would truncate differently) — the exact
   * fp columns carry 2·JS and the double `js_nats` divides by 2·scale
   * at the end, identically in both engines.
   *
   * Scale shape: the KL gate's [[smoothingGrid]].
   */
  def mixJsDivergence(spark: SparkSession, dir: String): DataFrame = {
    val withPq = smoothingGrid(spark, dir)
      .selectExpr("source", "n_s",
        s"CAST(c_sb + 1 AS DOUBLE) / CAST(n_s + $KlBuckets AS DOUBLE) AS p",
        s"CAST(c_b + 1 AS DOUBLE) / CAST(n + $KlBuckets AS DOUBLE) AS q")
      .selectExpr("source", "n_s",
        s"CAST(round((p * ln(p / ((p + q) / 2))) * $KlScale) AS LONG) AS tp_fp",
        s"CAST(round((q * ln(q / ((p + q) / 2))) * $KlScale) AS LONG) AS tq_fp")
    withPq.groupBy(col("source"), col("n_s"))
      .agg(sum(col("tp_fp")).as("jsp_fp"), sum(col("tq_fp")).as("jsq_fp"))
      .select(col("source"), col("n_s").as("n_tokens"),
              col("jsp_fp"), col("jsq_fp"),
              round((col("jsp_fp") + col("jsq_fp")).cast("double") /
                    (2.0 * KlScale.toDouble), 6).as("js_nats"))
  }

  /** Oracle: identical grid, smoothing, and nano-nat quantization. */
  val mixJsDivergenceSql: String =
    s"""WITH tok AS (
       |  SELECT source,
       |         CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % $KlBuckets AS b
       |  FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS t
       |        FROM documents)),
       |sb AS (SELECT source, b, COUNT(*) AS c_sb FROM tok GROUP BY 1, 2),
       |qb AS (SELECT b, SUM(c_sb) AS c_b FROM sb GROUP BY 1),
       |ns AS (SELECT source, SUM(c_sb) AS n_s FROM sb GROUP BY 1),
       |tot AS (SELECT SUM(c_sb) AS n FROM sb),
       |grid AS (
       |  SELECT ns.source, ns.n_s, gb.b
       |  FROM ns CROSS JOIN (SELECT unnest(range(0, $KlBuckets)) AS b) gb),
       |pq AS (
       |  SELECT g.source, g.n_s,
       |    CAST(COALESCE(s.c_sb, 0) + 1 AS DOUBLE)
       |      / CAST(g.n_s + $KlBuckets AS DOUBLE) AS p,
       |    CAST(COALESCE(q.c_b, 0) + 1 AS DOUBLE)
       |      / CAST(tot.n + $KlBuckets AS DOUBLE) AS q
       |  FROM grid g
       |  LEFT JOIN sb s ON s.source = g.source AND s.b = g.b
       |  LEFT JOIN qb q ON q.b = g.b
       |  CROSS JOIN tot),
       |terms AS (
       |  SELECT source, n_s,
       |    CAST(round((p * ln(p / ((p + q) / 2))) * $KlScale) AS BIGINT) AS tp_fp,
       |    CAST(round((q * ln(q / ((p + q) / 2))) * $KlScale) AS BIGINT) AS tq_fp
       |  FROM pq)
       |SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
       |       CAST(SUM(tp_fp) AS BIGINT) AS jsp_fp,
       |       CAST(SUM(tq_fp) AS BIGINT) AS jsq_fp,
       |       round(CAST(SUM(tp_fp) + SUM(tq_fp) AS DOUBLE) / (2.0 * $KlScale), 6)
       |         AS js_nats
       |FROM terms GROUP BY 1, 2""".stripMargin

  // ------------------------------------------- DSIR importance weighting

  /** Hashed-feature space size, the target slice, and the fixed-point
    * scale (micro-nats) for per-bucket log-ratios. */
  private val DsirBuckets = 512L
  private val DsirTargetLang = "en"
  private val DsirScale = 1000000L

  /**
   * DSIR-style importance weights [EXT] (Data Selection via Importance
   * Resampling, Xie et al. 2023 — the standard recipe for skewing a raw
   * crawl toward a target distribution): featurize every document into
   * hashed word-bigram buckets, fit add-one-smoothed bucket unigram
   * models for the TARGET slice (lang = 'en' here; any quality slice in
   * production) and the RAW corpus, and score each document with its
   * importance log-ratio Σ_features [ln p̂_target(b) − ln p̂_raw(b)].
   * Documents with positive log-weight look more like the target than
   * the background and survive the resample.
   *
   * Determinism: the two distributions are exact integer counts; each
   * bucket's log-ratio is computed ONCE (512 rows) and quantized to
   * integer micro-nats, so every per-document score is an exact integer
   * dot product count·λ — never a float sum over features. (On this
   * synthetic corpus the langs share a vocabulary, so weights cluster
   * near zero — the discrimination behavior is spec'd on a crafted
   * skewed corpus; the gate pins the machinery.)
   *
   * Scale shape: ONE corpus pass — the explode feeds a single
   * (doc, lang, bucket) count aggregate, and everything downstream
   * derives from that table: the 512-row bucket distribution is
   * `SUM(c) GROUP BY b` over it (exactly the raw counts — per-doc counts
   * partition the bucket total), the λ table broadcasts back onto it,
   * and the doc-keyed score sum consumes it. (r17, VERDICT r16 item 4:
   * the previous shape ran TWO corpus-sized aggregations over a
   * materialized feats table — the bucket distribution now reads the
   * per-(doc,b) table instead, so the raw exploded rows are aggregated
   * once and never materialized.)
   * No join ever carries text.
   */
  def dsirImportance(spark: SparkSession, dir: String): DataFrame = {
    // cut: db feeds BOTH the bucket-distribution rollup and the scoring
    // join — without it the scan + tokenize + explode + md5 + aggregate
    // pass executes twice. Lazy: the bucket rollup's action materializes
    // it. (r16 examined an in-row ItemCounts rewrite and declined it:
    // bigrams are near-unique WITHIN a doc, so per-doc counting reduces
    // almost nothing — but that same fact is why the aggregate, not the
    // raw explode, is the right table to materialize: equal row count,
    // narrower rows, and both consumers need exactly it.)
    val db = Checkpoints.cut(t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
              graft.functions.TextFunctions.wsTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextFunctions.ngramsJoined(col("ts"), 2)).as("bg"))
      .select(col("doc_id"), col("lang"), (md5Long(col("bg")) % DsirBuckets).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b")).agg(count(lit(1)).as("c")),
      eager = false)
    val bucketCounts = db.groupBy(col("b")).agg(
      sum(col("c")).as("c_raw"),
      sum(when(col("lang") === DsirTargetLang, col("c")).otherwise(0L)).as("c_tgt"))
    val totals = bucketCounts.agg(sum(col("c_raw")).as("n_raw"), sum(col("c_tgt")).as("n_tgt"))
    val lam = bucketCounts.crossJoin(broadcast(totals)).select(col("b"), expr(
      s"""CAST(round((ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + $DsirBuckets AS DOUBLE))
         |           - ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + $DsirBuckets AS DOUBLE)))
         |          * $DsirScale) AS LONG)""".stripMargin).as("lam_fp"))
    db.join(broadcast(lam), "b")
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_feats"), sum(col("c") * col("lam_fp")).as("logw_fp"))
      .select(col("doc_id"), col("lang"), col("n_feats"), col("logw_fp"),
        round(col("logw_fp").cast("double") / DsirScale.toDouble, 6).as("logw"),
        (col("logw_fp") > 0L).as("keep"))
  }

  val dsirImportanceSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split_regex(text, '\\s+') AS ts FROM documents),
       |feats AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substring(md5(bg), 1, 15)) AS BIGINT) % $DsirBuckets AS b
       |  FROM (SELECT doc_id, lang,
       |          unnest(list_transform(range(1, len(ts)),
       |            i -> ts[i] || ' ' || ts[i + 1])) AS bg
       |        FROM d WHERE len(ts) >= 2)),
       |bc AS (
       |  SELECT b, COUNT(*) AS c_raw,
       |    SUM(CASE WHEN lang = '$DsirTargetLang' THEN 1 ELSE 0 END) AS c_tgt
       |  FROM feats GROUP BY 1),
       |tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM bc),
       |lam AS (
       |  SELECT b, CAST(round((ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + $DsirBuckets AS DOUBLE))
       |                        - ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + $DsirBuckets AS DOUBLE)))
       |                       * $DsirScale) AS BIGINT) AS lam_fp
       |  FROM bc CROSS JOIN tot),
       |db AS (
       |  SELECT doc_id, lang, b, COUNT(*) AS c FROM feats GROUP BY 1, 2, 3)
       |SELECT db.doc_id, db.lang,
       |  CAST(SUM(db.c) AS BIGINT) AS n_feats,
       |  CAST(SUM(db.c * lam.lam_fp) AS BIGINT) AS logw_fp,
       |  round(CAST(SUM(db.c * lam.lam_fp) AS DOUBLE) / $DsirScale, 6) AS logw,
       |  SUM(db.c * lam.lam_fp) > 0 AS keep
       |FROM db JOIN lam USING (b)
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------ temperature-scaled mixing

  /** Salt isolating the temperature-mix sample from every other hash. */
  private val TempSalt = "graft_temp_v1:"

  /**
   * Temperature-scaled language mixing [EXT] — the α-sampling recipe of
   * multilingual pretraining (mT5/XLM-R style): target share per
   * language ∝ n_l^α with α = 1/2, which UP-weights rare languages
   * relative to their raw share without ever up-SAMPLING (downsample-
   * only, like [[mixDomains]]). The α = 1/2 weight is the integer
   * square root ⌊√n⌋ — `floor(sqrt(double))` is deterministic
   * cross-engine away from perfect squares' exact boundaries, and AT a
   * perfect square the sqrt is exact — so the whole recipe stays
   * hash-exact. Quota arithmetic and the histogram selection are shared
   * with [[mixDomains]] ([[histogramSelect]]); the oracle keeps the
   * naive whole-language window-rank formulation, making the gate a
   * differential across selection strategies too.
   */
  def mixTemperature(spark: SparkSession, dir: String): DataFrame = {
    // cut for the same reason as mixDomains: four downstream consumers
    // would otherwise re-scan + re-hash the corpus per consumer
    val docs = Checkpoints.cut(t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
              md5Long(concat(lit(TempSalt), col("doc_id").cast("string"))).as("h"))
      .withColumn("bkt", expr(s"h div ${1L << 52}")))
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
    val c = byLang.agg(min(expr("(n_docs * 1000000) div w")).as("c"))
    val quota = byLang.crossJoin(broadcast(c))
      .withColumn("k", expr("(c * w) div 1000000"))
      .select(col("lang"), col("w"), col("n_docs"), col("k"))
    histogramSelect(docs, quota, "lang")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      .join(broadcast(quota), "lang")
      .withColumn("share_before_pm",
        expr("(n_docs * 1000000) div CAST(SUM(n_docs) OVER () AS BIGINT)"))
      .withColumn("share_after_pm",
        expr("(n_kept * 1000000) div CAST(SUM(n_kept) OVER () AS BIGINT)"))
      .select(col("lang"), col("n_docs"), col("w"), col("k"), col("n_kept"),
              col("share_before_pm"), col("share_after_pm"))
  }

  val mixTemperatureSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, lang,
       |         CAST(('0x' || substring(md5('$TempSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |bylang AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |         CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
       |  FROM docs GROUP BY 1),
       |c AS (SELECT MIN((n_docs * 1000000) // w) AS c FROM bylang),
       |quota AS (
       |  SELECT lang, w, n_docs, (c.c * w) // 1000000 AS k FROM bylang, c),
       |ranked AS (
       |  SELECT doc_id, lang,
       |         row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rnk
       |  FROM docs),
       |kept AS (
       |  SELECT r.lang, COUNT(*) AS n_kept
       |  FROM ranked r JOIN quota q ON q.lang = r.lang
       |  WHERE r.rnk <= q.k GROUP BY 1)
       |SELECT lang,
       |       CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(w AS BIGINT) AS w,
       |       CAST(k AS BIGINT) AS k,
       |       CAST(n_kept AS BIGINT) AS n_kept,
       |       (CAST(n_docs AS BIGINT) * 1000000) // CAST(SUM(n_docs) OVER () AS BIGINT) AS share_before_pm,
       |       (CAST(n_kept AS BIGINT) * 1000000) // CAST(SUM(n_kept) OVER () AS BIGINT) AS share_after_pm
       |FROM kept JOIN quota USING (lang)""".stripMargin

  // ------------------------------------------------- shuffle + sharding

  /** Output shards for the packed corpus (a real run picks shard count
    * from target file size; 16 keeps the testdata gate readable). */
  private val NumShards = 16

  /** Shuffle salt — independent of the split salt so shard order shares
    * no structure with the train/valid/test assignment. */
  private val ShuffleSalt = "graft_shuffle_v1:"

  /**
   * Deterministic corpus shuffle + shard assignment [EXT] — the step that
   * turns a curated corpus into training shards: every document gets a
   * pseudo-random but reproducible position (shard file, offset within
   * shard) so data order is decorrelated from crawl/source order without
   * `rand()`'s run-to-run instability.
   *
   * Scale shape: the shard id is a pure per-row map (hash mod N — zero
   * shuffle); the within-shard position is one window sort keyed by the
   * shard id. That is THE canonical 100 TB global shuffle: one exchange
   * partitioned by output shard, each reducer sorting only its shard —
   * never a global single-node sort (the hash ordering makes per-shard
   * local order globally consistent for free). Writing with
   * `partitionBy(shard)` turns the result directly into the shard files.
   */
  def corpusShuffleShard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    t(spark, dir, "documents")
      .select(col("doc_id"),
        md5Long(concat_ws("", lit(ShuffleSalt), col("doc_id").cast("string")))
          .as("hkey"))
      .withColumn("shard", pmod(col("hkey"), lit(NumShards)).cast("int"))
      .withColumn("pos",
        row_number().over(
          Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id")))
          .cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  val corpusShuffleShardSql: String =
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5('$ShuffleSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hkey
       |  FROM documents)
       |SELECT doc_id, CAST(hkey % $NumShards AS INT) AS shard,
       |  CAST(row_number() OVER (PARTITION BY hkey % $NumShards
       |                          ORDER BY hkey, doc_id) AS BIGINT) AS pos
       |FROM h""".stripMargin
}
