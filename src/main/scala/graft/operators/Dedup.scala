package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Deduplication operators for a training-data pipeline [EXT]: exact,
 * MinHash+LSH banding, SimHash, n-gram Jaccard, and embedding-cosine
 * near-dup.
 *
 * Scale design: every technique here avoids the O(n²) all-pairs trap —
 * candidate generation is always "shuffle on a blocking key, compare only
 * within blocks":
 *  - exact: one hash aggregate on md5(normalized text);
 *  - MinHash LSH: each document's 16 minhashes and 4 band signatures are
 *    computed in the map (one fused kernel per row) → bucket on (band,
 *    signature). At 100 TB the band-keyed exchange is the chain's only
 *    corpus-sized shuffle, linear in corpus size;
 *  - SimHash: linear scan + 16-bit-prefix bucketing, occupancy-capped like
 *    the MinHash buckets;
 *  - Jaccard: inverted-index join on shingle (pairs sharing no shingle are
 *    never materialized), hot shingles df-capped out of the index;
 *  - embedding: blocked on the coarse label (IVF-style), cosine inside
 *    blocks only.
 *
 * All hashing derives from [[Tables.md5Long]] so a DuckDB oracle reproduces
 * every candidate pair exactly.
 */
object Dedup {

  /** Tokens of a document (synthetic testdata is single-space separated;
    * `\s+` semantics keep it robust to real whitespace) — the native
    * byte-scan expression, bit-identical to `split(c, "\\s+")`
    * (TextFunctionsSpec). */
  private def toks(c: Column): Column = graft.functions.TextFunctions.wsTokens(c)

  /** Distinct 3-word shingles of a token array — native n-gram join,
    * bit-identical to the indexed-transform HOF form (TextFunctionsSpec). */
  private def shingles3(ts: Column): Column =
    array_distinct(graft.functions.TextFunctions.ngramsJoined(ts, 3))

  /** DuckDB twin of [[shingles3]] (1-based indexed lambda). */
  private val shingles3Sql: String =
    """list_distinct(list_filter(
      |  list_transform(ts, (x, i) -> CASE WHEN i + 2 <= len(ts)
      |    THEN x || ' ' || ts[i+1] || ' ' || ts[i+2] END),
      |  s -> s IS NOT NULL))""".stripMargin

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group on md5 of normalized text, keep the smallest doc_id
    * as the representative. One hash aggregate; the shuffle carries
    * (16-byte key, id) pairs, never the documents. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(lower(trim(text))) AS text_hash,
      |  MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------ url

  /**
   * URL-canonicalization dedup [EXT] — the cheapest first pass every web
   * corpus runs BEFORE content dedup: group fetches whose URLs differ
   * only in scheme, host case, a `www.` prefix, query string, fragment,
   * or a trailing slash. Canonicalization is pure string expressions
   * (strip scheme → strip `#…` → strip `?…` → lowercase host, drop
   * `www.` → drop one trailing `/`), so at 100 TB it pushes down to the
   * scan and the ONLY data movement is one hash aggregate on the
   * canonical key — the same shape (and plan budget) as [[dedupExact]].
   *
   * The testdata carries no URL column, so each document's raw URL is
   * DERIVED deterministically from (doc_id, source) with the messiness
   * knobs the canonicalizer must erase (scheme/case/www/query/fragment/
   * slash varied by doc_id residues); the derivation is the shared
   * fixture, identical expression-for-expression in the oracle — the
   * operator under test is the canonicalize-and-group.
   */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val host0 = concat(col("source"), lit(".example.com"))
    val host = when(col("doc_id") % 3 === 0, upper(host0))
      .when(col("doc_id") % 3 === 1, concat(lit("WWW."), host0))
      .otherwise(host0)
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("HTTP")),
      lit("://"), host,
      lit("/p/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 6 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
           concat(lit("?utm_source=feed&ref="), col("doc_id").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit("#section-2")).otherwise(lit("")))
    val noScheme = regexp_replace(url, "^[A-Za-z]+://", "")
    val noFrag = regexp_replace(regexp_replace(noScheme, "#.*$", ""),
                                "\\?.*$", "")
    val rawHost = regexp_extract(noFrag, "^[^/]*", 0)
    val canon = concat(
      regexp_replace(lower(rawHost), "^www\\.", ""),
      regexp_replace(regexp_extract(noFrag, "/.*$", 0), "/$", ""))
    docs.select(col("doc_id"), url.as("url"), canon.as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col("doc_id")).as("rep_doc_id"),
           count(lit(1)).as("n_fetches"),
           countDistinct(col("url")).as("n_raw_variants"))
  }

  /** Oracle: the same raw-URL derivation and canonicalization chain. */
  val dedupUrlSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END) || '://' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN upper(source || '.example.com')
      |          WHEN doc_id % 3 = 1 THEN 'WWW.' || source || '.example.com'
      |          ELSE source || '.example.com' END) ||
      |    '/p/' || CAST(doc_id % 50 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END) ||
      |    (CASE WHEN doc_id % 4 = 0
      |          THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
      |          ELSE '' END) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END) AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id, url,
      |    regexp_replace(lower(regexp_extract(nf, '^[^/]*')), '^www\.', '') ||
      |    regexp_replace(regexp_extract(nf, '/.*$'), '/$', '') AS canonical_url
      |  FROM (SELECT doc_id, url,
      |          regexp_replace(regexp_replace(regexp_replace(url,
      |            '^[A-Za-z]+://', ''), '#.*$', ''), '\?.*$', '') AS nf
      |        FROM raw))
      |SELECT canonical_url, MIN(doc_id) AS rep_doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_fetches,
      |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
      |FROM canon GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- minhash

  /** MinHash parameters: 16 hash functions in 4 bands of 4 rows.
    * h_i(s) = (a_i·s + b_i) mod M over the shingle's md5-derived value;
    * a_i ≤ 31 and s < M = 2^31−1 keep products < 2^36 (no overflow in
    * either engine). */
  private val M = 2147483647L
  private val NumHashes = 16
  private val RowsPerBand = 4

  /** `(doc_id, keep…, shingles)`: each document's distinct 3-shingles,
    * for the documents that have one. A document has a 3-shingle iff it
    * has ≥3 tokens (`wsTokens("")` is one empty token), so the guard
    * reads the token count. It must not read the signature: a filter on
    * the signature columns is pushed below their projection and runs
    * MinHashSigs again for each column it reads. */
  private def shingled(docs: DataFrame, keep: Column*): DataFrame =
    docs.filter(size(toks(col("text"))) >= 3)
      .select((col("doc_id") +: keep) :+
        shingles3(toks(col("text"))).as("shingles"): _*)

  /** Per-document minhash signatures, wide: one row per doc with columns
    * mh0..mh15, over `(doc_id, shingles)`. A signature depends on its
    * document only, so it is computed in the map: MinHashSigs fuses md5,
    * mod and all 16 affine mins into one codegen'd pass per row
    * (bit-identical to the array_min(transform(...)) family,
    * MinHashSigsSpec), and nothing shuffles. */
  private def signaturesOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
        graft.functions.MinHashSigs.minHashSigs(col("shingles"), NumHashes, M).as("mha"))
      .select(col("doc_id") +: (0 until NumHashes).map(i => col("mha")(i).as(s"mh$i")): _*)

  /** Band signature strings derived row-wise from the wide minhashes (no
    * extra shuffle): band b = "mh(4b),..,mh(4b+3)". */
  private def bandSig(b: Int): Column =
    concat_ws(",", (0 until RowsPerBand).map(r =>
      col(s"mh${b * RowsPerBand + r}").cast("string")): _*)

  /** One row per (doc, band) with the band's signature string, for any
    * corpus with (doc_id, text) — the one signature path of the batch LSH
    * chain (filtered corpora too, e.g. [[Pipeline.corpusPrep]]) and of
    * the streaming gate ([[graft.streaming.EventStreams
    * .minhashPairsStateful]]). Row-local: a stateless projection, so a
    * stream's stateful-operator slot stays free for the bucket state.
    * Docs with <3 tokens have no shingles and drop out. */
  private[graft] def bandedSignaturesOf(docs: DataFrame): DataFrame =
    bandedSignaturesFromWide(signaturesOf(shingled(docs)))

  private def bandedSignaturesFromWide(wide: DataFrame): DataFrame = {
    val bandArr = array((0 until NumHashes / RowsPerBand).map(b =>
      struct(lit(b).as("band"), bandSig(b).as("sig"))): _*)
    wide
      .select(col("doc_id"), explode(bandArr).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Oracle CTE body (no leading WITH) ending in `bands(doc_id, band,
    * sig)`, over any source relation `src(doc_id, text)`. */
  private def bandedSignaturesCtesFrom(src: String): String =
    s"""ts AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM $src),
       |sh AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % $M AS sh
       |  FROM (SELECT doc_id, unnest($shingles3Sql) AS shingle FROM ts)),
       |mh AS (
       |  SELECT doc_id, i, MIN(((i*2+1) * sh + (i+1) * 7919) % $M) AS minh
       |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, ${NumHashes - 1})) AS i) hf
       |  GROUP BY doc_id, i),
       |bands AS (
       |  SELECT doc_id, CAST(i // $RowsPerBand AS INT) AS band,
       |         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS sig
       |  FROM mh GROUP BY doc_id, band)""".stripMargin

  private[operators] val bandedSignaturesSql: String =
    "WITH " + bandedSignaturesCtesFrom("documents")

  /** Pathological-bucket cap: a bucket with more occupants than this is
    * dropped instead of exploded into O(c²) pairs. A degenerate signature
    * (empty/templated documents all agreeing on a band) would otherwise
    * turn one bucket into a quadratic blowup at corpus scale; the docs it
    * contains are boilerplate near-dups of each other that exact dedup
    * already collapses. Shared by the MinHash band buckets and the SimHash
    * prefix buckets; max observed occupancy on the testdata is 10 and 121
    * respectively (sf0.1), so the cap is provably inert here — it exists
    * for the 100 TB case. */
  private[graft] val MaxBucketDocs = 256

  /** MinHash+LSH candidate pairs: documents sharing any band signature.
    * Implemented as bucket-grouping (shuffle on (band, sig), collect the
    * bucket's doc list, explode its i<j pairs) rather than a self-join —
    * the signature pipeline runs ONCE instead of once per join side, and
    * only multi-occupant buckets produce any downstream rows. Buckets
    * beyond [[MaxBucketDocs]] are dropped (see its doc). */
  /** [[dedupMinhashLsh]] over any corpus with (doc_id, text). */
  private[operators] def minhashPairsOf(docs: DataFrame): DataFrame =
    minhashPairsFromBanded(bandedSignaturesOf(docs))

  private def minhashPairsFromBanded(banded: DataFrame): DataFrame =
    bucketPairs(banded)
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .distinct()

  /** Bucket grouping + native i<j pair explode shared by the weighted
    * and unweighted LSH pair pipelines (r17): the nested
    * transform(slice(...)) HOF formulation ran an interpreted lambda per
    * (element × bucket) — the same fallback hot loop CombinationPairs
    * replaced in orders_market_basket (r14) and the shingle family
    * (r17 build); pair sets and order are identical (ids are sorted, so
    * i<j pairs come out (a<b) in the same order). Proven at real pair
    * volume in r18 (the r17 A/B was noise-bound at this corpus' bucket
    * occupancy): on a synthetic 500×200-doc hot-bucket corpus (39.8M
    * exploded pairs, occupancy near the MaxBucketDocs cap) the native
    * kernel ran 13.79 s vs 19.95 s for the HOF form — 31% faster where
    * the explode IS the workload (OPTIMIZATION_r18.md change 3 records
    * the corpus and the run). The `spark.graft.hofPairs` A/B gate is
    * deleted with that proof. */
  private def bucketPairs(banded: DataFrame): DataFrame =
    bucketsOf(banded)
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxBucketDocs)
      .select(explode(graft.functions.CombinationPairs
        .combinationPairs(sort_array(col("ids")))).as("p"))

  /** Each (band, sig) bucket's doc ids, unordered. The collector stops
    * RETAINING at MaxBucketDocs + 1 ids, so a templated band signature
    * shared by millions of docs costs one bucket that many longs of
    * executor buffer, not millions; the retained size is min(occupancy,
    * cap + 1), so a caller's `size(ids) <= MaxBucketDocs` filter keeps
    * exactly the buckets within the cap, with complete lists. */
  private def bucketsOf(banded: DataFrame): DataFrame =
    banded.groupBy(col("band"), col("sig"))
      .agg(graft.functions.CollectLongsCapped
        .collectLongsCapped(col("doc_id"), MaxBucketDocs + 1).as("ids"))

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(t(spark, dir, "documents"))

  /** LSH candidate pairs with their SHARED-BAND count (1..4) — the
    * similarity-strength weight the weighted graph pass
    * ([[Graph.graphSssp]]) turns into an edge cost. Identical bucket
    * machinery and cap as [[minhashPairsFromBanded]]; the unweighted
    * pair list is this one's projection (the `distinct()` there is the
    * `groupBy` here). */
  private[operators] def minhashWeightedPairsOf(docs: DataFrame): DataFrame =
    bucketPairs(bandedSignaturesOf(docs))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))

  /** Oracle CTE body ending in `wpairs(doc_a, doc_b, n_bands)` — the
    * weighted twin of [[minhashPairsCtesFrom]]. */
  private[operators] def minhashWeightedPairsCtesFrom(src: String): String =
    s"""${bandedSignaturesCtesFrom(src)},
       |bsz AS (
       |  SELECT band, sig FROM bands
       |  GROUP BY band, sig HAVING COUNT(*) BETWEEN 2 AND $MaxBucketDocs),
       |wpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(COUNT(*) AS BIGINT) AS n_bands
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.band = a.band AND bsz.sig = a.sig
       |  GROUP BY 1, 2)""".stripMargin

  /** Oracle for the STREAMING LSH gate ([[graft.streaming.StreamQueries
    * .streamMinhash]]): per-band candidate pairs under the stream's
    * PREFIX-cap (each bucket admits its first [[MaxBucketDocs]] docs in
    * arrival order — doc_id order, since the stream stages documents by
    * doc_id — and later docs emit nothing), expressed exactly as a
    * rank-bounded self-join. Differs from the batch [[dedupMinhashLsh]]
    * cap (which DROPS a whole over-cap bucket retroactively — a batch
    * engine can see the final occupancy, a stream cannot un-emit) and
    * from its output shape (per-band pairs, no distinct: the band IS the
    * dedup key here, so no second stateful operator is needed). */
  private[graft] def streamMinhashOracleSql: String =
    s"""WITH ${bandedSignaturesCtesFrom("documents")},
       |ranked AS (
       |  SELECT band, sig, doc_id,
       |         ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rk
       |  FROM bands)
       |SELECT a.band, a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM ranked a JOIN ranked b
       |  ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |WHERE a.rk <= $MaxBucketDocs AND b.rk <= $MaxBucketDocs""".stripMargin

  /** Oracle CTE body ending in `pairs(doc_a, doc_b)` with the identical
    * bucket cap, over any source relation. */
  private[operators] def minhashPairsCtesFrom(src: String): String =
    s"""${bandedSignaturesCtesFrom(src)},
       |bsz AS (
       |  SELECT band, sig FROM bands
       |  GROUP BY band, sig HAVING COUNT(*) BETWEEN 2 AND $MaxBucketDocs),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.band = a.band AND bsz.sig = a.sig)""".stripMargin

  /** The documents-table chain (leading WITH) — ONE definition shared by
    * the LSH, components, apply, and contamination oracles. */
  private[operators] val minhashPairsCtes: String =
    "WITH " + minhashPairsCtesFrom("documents")

  val dedupMinhashLshSql: String =
    s"""$minhashPairsCtes
       |SELECT doc_a, doc_b FROM pairs""".stripMargin

  // --------------------------------------------------- connected components

  /**
   * Dedup groups: connected components over the MinHash-LSH candidate
   * graph — the step that turns pairwise near-dup hits into "keep one per
   * group". Iterative minimum-label propagation: every node adopts the
   * smallest label among itself and its neighbors until fixpoint (= the
   * component's minimum doc_id, the canonical representative).
   *
   * Scale shape: each round is one join + one min-aggregate on the edge
   * list — the standard large-graph CC loop (GraphX/Pregel does the same
   * dataflow); rounds ≈ component diameter, and near-dup clusters are
   * shallow. The edge list is checkpointed once up front so the signature
   * pipeline never re-runs, and each round's result is checkpointed to
   * keep lineage flat (a cluster deployment would use a checkpoint dir).
   */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentsOf(dedupMinhashLsh(spark, dir))

  /** The CC loop over any candidate-pair table (doc_a, doc_b) — reused by
    * [[Pipeline.corpusPrep]] on its filtered corpus. */
  private[operators] def componentsOf(pairs: DataFrame): DataFrame = {
    // Lazy cut: the shuffle stages of `pairs` run here; the first round's
    // action computes and stores the blocks every later round reads.
    val edges = Checkpoints.cut(Graph.undirected(pairs), eager = false)
    // No cut and no priming action on the initial label table (r18): its
    // consumers are the first round's join + union inside ONE
    // action, and the duplicated distinct subtree is deduplicated by
    // exchange reuse. The old initial labelSum(labels) action only ever
    // detected the empty graph one action early (any edge changes the
    // larger endpoint's label, so a non-empty graph never converges at
    // round 0) — prevSum starts as None instead.
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    // Convergence witness: labels only ever decrease, so Σ label strictly
    // decreases until fixpoint — comparing two scalar sums replaces the
    // join-per-round changed-row check (one cheap agg over the already-
    // checkpointed round result instead of an extra join + filter action).
    def labelSum(df: DataFrame): Long = {
      val v = df.agg(sum(col("label"))).first()
      if (v.isNullAt(0)) 0L else v.getLong(0) // sum of empty table is null
    }
    def round(l: DataFrame): DataFrame =
      edges.join(l, edges("doc_b") === l("doc_id"))
        .select(edges("doc_a").as("doc_id"), col("label"))
        .union(l)
        .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
    var prevSum: Option[Long] = None
    var converged = false
    while (!converged) {
      // ONE round per action, lazy checkpoint: the round's shuffle stages
      // run when the cut is taken, and the labelSum action right below
      // runs its final stage and stores the blocks — no separate
      // materialization job per round.
      // (r18 measured and REJECTED two-rounds-per-action here: it halves
      // the driver actions but executes up to two extra no-op rounds
      // past the fixpoint plus a duplicated inner agg pass — a paired
      // bench run showed the components family 7-11% SLOWER against the
      // session's drift line, and at 100 TB rounds are real node-sized
      // shuffles while actions stay cheap, so the trade only worsens
      // with scale. The fixed-unroll loops (bfs/sssp) are where cut
      // merging pays — no extra rounds exist there.)
      val next = Checkpoints.cut(round(labels), eager = false)
      val s = labelSum(next)
      converged = prevSum.contains(s)
      prevSum = Some(s)
      labels = next
    }
    import org.apache.spark.sql.expressions.Window
    labels.select(col("doc_id"), col("label").as("rep_doc_id"),
                  count(lit(1)).over(Window.partitionBy(col("label")))
                    .as("component_size"))
  }

  /** Oracle CTE body ending in `comp(doc_id, rep_doc_id,
    * component_size)`: reachability closure via recursive CTE, then min
    * per node — the fixpoint label propagation converges to exactly this.
    * Over any source relation; the caller's WITH must say RECURSIVE. */
  private[operators] def componentsCtesFrom(src: String): String =
    s"""${minhashPairsCtesFrom(src)},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT doc_a AS doc_id, doc_a AS r FROM edges
       |  UNION
       |  SELECT e.doc_a AS doc_id, reach.r
       |  FROM edges e JOIN reach ON reach.doc_id = e.doc_b),
       |comp AS (
       |  SELECT doc_id, MIN(r) AS rep_doc_id,
       |         COUNT(*) OVER (PARTITION BY MIN(r)) AS component_size
       |  FROM reach GROUP BY doc_id)""".stripMargin

  private val componentsCtes: String =
    "WITH RECURSIVE " + componentsCtesFrom("documents")

  val dedupComponentsSql: String =
    s"""$componentsCtes
       |SELECT doc_id, rep_doc_id, component_size FROM comp""".stripMargin

  /**
   * Near-dup cluster SIZE DISTRIBUTION [EXT] — the histogram read before
   * committing to keep-one-per-cluster: a corpus of pairs-and-triples
   * dedups safely, while a few giant clusters (template families, boiler-
   * plate storms) mean "keep one" deletes real content and wants manual
   * review (the [[graft.operators.Graph.graphAssortativity]] star-vs-
   * clique question, answered with counts). One aggregate over the
   * component table, which is duplicate-docs-sized, not corpus-sized.
   */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .groupBy(col("component_size"))
      .agg(countDistinct(col("rep_doc_id")).as("n_clusters"),
           count(lit(1)).as("n_docs"))
      .withColumn("docs_removed", col("n_docs") - col("n_clusters"))

  val dedupClusterSizesSql: String =
    s"""$componentsCtes
       |SELECT component_size,
       |  CAST(COUNT(DISTINCT rep_doc_id) AS BIGINT) AS n_clusters,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) - COUNT(DISTINCT rep_doc_id) AS BIGINT) AS docs_removed
       |FROM comp GROUP BY 1""".stripMargin

  /**
   * Per-SOURCE near-dup provenance [EXT] — the "where does my duplication
   * come from" report that [[dedupClusterSizes]] (per-size histogram) and
   * [[graft.operators.Pipeline.corpusAttrition]] (per-source stage rates)
   * bracket but neither answers: for each source, how many documents sit
   * in near-dup clusters, how many a keep-one pass would remove (ppm of
   * the source), how many clusters this source REPRESENTS (owns the
   * kept doc), the largest cluster it touches, and — the novel column —
   * how many of its dup docs resolve to a representative in a DIFFERENT
   * source (cross-source template sharing: boilerplate syndicated across
   * domains, invisible to any per-source histogram).
   *
   * Scale shape: the component table is duplicate-docs-sized; both
   * source lookups join it against the 2-column (doc_id, source)
   * projection of the corpus, and the per-source totals are one tiny
   * aggregate — nothing beyond the LSH+CC pipeline's own cost. Sources
   * with no dup docs don't appear (inner-join semantics, both engines).
   */
  def dedupSourceProfile(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val comp = dedupComponents(spark, dir)
    val j = comp
      .join(src, "doc_id")
      .join(src.withColumnRenamed("doc_id", "rep_doc_id")
               .withColumnRenamed("source", "rep_source"), "rep_doc_id")
    val tot = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    j.groupBy(col("source"))
      .agg(count(lit(1)).as("n_dup_docs"),
           count(when(col("doc_id") =!= col("rep_doc_id"), 1)).as("docs_removed"),
           count(when(col("doc_id") === col("rep_doc_id"), 1)).as("n_clusters_repped"),
           max(col("component_size")).as("max_cluster_size"),
           count(when(col("source") =!= col("rep_source"), 1)).as("cross_source_docs"))
      .join(broadcast(tot), "source")
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
              col("docs_removed"),
              expr("docs_removed * 1000000 div n_docs").as("removed_ppm"),
              col("n_clusters_repped"), col("max_cluster_size"),
              col("cross_source_docs"))
  }

  val dedupSourceProfileSql: String =
    s"""$componentsCtes,
       |src AS (SELECT doc_id, source FROM documents),
       |tot AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |j AS (
       |  SELECT c.doc_id, c.rep_doc_id, c.component_size,
       |         s.source, r.source AS rep_source
       |  FROM comp c
       |  JOIN src s ON s.doc_id = c.doc_id
       |  JOIN src r ON r.doc_id = c.rep_doc_id),
       |prof AS (
       |  SELECT source, COUNT(*) AS n_dup_docs,
       |    CAST(COUNT(CASE WHEN doc_id <> rep_doc_id THEN 1 END) AS BIGINT) AS docs_removed,
       |    CAST(COUNT(CASE WHEN doc_id = rep_doc_id THEN 1 END) AS BIGINT) AS n_clusters_repped,
       |    MAX(component_size) AS max_cluster_size,
       |    CAST(COUNT(CASE WHEN source <> rep_source THEN 1 END) AS BIGINT) AS cross_source_docs
       |  FROM j GROUP BY 1)
       |SELECT source, n_docs, n_dup_docs, docs_removed,
       |       docs_removed * 1000000 // n_docs AS removed_ppm,
       |       n_clusters_repped, max_cluster_size, cross_source_docs
       |FROM prof JOIN tot USING (source)""".stripMargin

  /**
   * The dedup pipeline APPLIED end-to-end: keep exactly one document per
   * near-dup cluster (the minimum-id representative) and report per-lang
   * corpus statistics — the shape a training-data run actually ships
   * (candidate pairs → components → filtered corpus). The component table
   * is O(duplicate docs), tiny next to the corpus, so the application
   * join is broadcast-shaped at any scale.
   */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(spark, dir).select(col("doc_id"), col("rep_doc_id"))
    t(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("lang"),
        (col("rep_doc_id").isNull || col("rep_doc_id") === col("doc_id")).as("keep"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
           sum(when(!col("keep"), 1L).otherwise(0L)).as("n_removed"))
  }

  val dedupApplySql: String =
    s"""$componentsCtes
       |SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN c.doc_id IS NULL OR c.rep_doc_id = d.doc_id
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL AND c.rep_doc_id <> d.doc_id
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |GROUP BY lang""".stripMargin

  /** Quality-keeper packing base: best-doc argmax is ONE integer max of
    * `score * 2^24 - doc_id`, exact while doc_id < 2^24 (~16.7M; the
    * fixtures top out at 500k — a 100 TB corpus would widen to two
    * packed longs or a struct max, same plan). */
  private val QPack = 16777216L

  /**
   * Quality-aware canonical selection [EXT]: production near-dup
   * pipelines do NOT keep the minimum-id duplicate ([[dedupApply]]'s
   * policy) — they keep the BEST one (longest, highest quality score),
   * because crawl duplicates differ in truncation and boilerplate. Per
   * LSH component: the argmax-quality member, its score, and the size.
   * Score is the integer heuristic `n_stopwords * 1000 + n_tokens`
   * (stopword-bearing, longer docs win; deterministic — no floats),
   * ties broken toward the smaller doc_id.
   *
   * Scale shape: the component table is O(duplicate docs) — corpus-tiny
   * — so scoring joins broadcast; the argmax is a single integer MAX
   * per component (score and id packed into one long), no window, no
   * self-join. Cites [[componentsOf]] for the CC loop shape.
   */
  def dedupBestQuality(spark: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(spark, dir)
      .select(col("doc_id"), col("rep_doc_id"), col("component_size"))
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val score = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id"),
        (size(filter(col("ts"), x => x.isin(stop: _*))) * 1000 +
          size(col("ts"))).cast("long").as("score"))
    comp.join(score, Seq("doc_id"))
      .groupBy(col("rep_doc_id"), col("component_size"))
      .agg(max(col("score") * QPack - col("doc_id")).as("packed"))
      .select(col("rep_doc_id"), col("component_size").as("n_docs"),
        expr(s"(packed + ${QPack - 1}) div $QPack").as("best_score"),
        (expr(s"(packed + ${QPack - 1}) div $QPack") * QPack
           - col("packed")).as("best_doc_id"))
  }

  /** Oracle: the recursive-CTE components plus the identical packed
    * integer argmax. */
  val dedupBestQualitySql: String =
    s"""$componentsCtes,
       |qs AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(text, '\\s+'),
       |                    x -> x IN ('the','a','of','and','to','in','is'))) * 1000
       |      + len(string_split_regex(text, '\\s+')) AS score
       |  FROM documents),
       |pk AS (
       |  SELECT c.rep_doc_id, c.component_size,
       |         MAX(qs.score * $QPack - qs.doc_id) AS packed
       |  FROM comp c JOIN qs ON qs.doc_id = c.doc_id
       |  GROUP BY 1, 2)
       |SELECT rep_doc_id, CAST(component_size AS BIGINT) AS n_docs,
       |  (packed + $QPack - 1) // $QPack AS best_score,
       |  ((packed + $QPack - 1) // $QPack) * $QPack - packed AS best_doc_id
       |FROM pk""".stripMargin

  /** Per-document minhash signature table (the reusable artifact a corpus
    * pipeline would persist; also directly checks the minhash math).
    * Derived row-wise from the wide signature — no shuffle at all. */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesOf(shingled(t(spark, dir, "documents")))
      .select(col("doc_id"),
              concat_ws(";", (0 until NumHashes / RowsPerBand).map(bandSig): _*)
                .as("signature"))

  val minhashSignaturesSql: String =
    s"""$bandedSignaturesSql
       |SELECT doc_id, string_agg(sig, ';' ORDER BY band) AS signature
       |FROM bands GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------------- simhash

  /** 32-bit SimHash over token multiset: bit b is set iff the signed sum of
    * bit b across all token hashes is positive. Emitted with a 16-bit
    * prefix bucket — near-dups (small Hamming distance) tend to share it.
    * The 32 per-bit signed sums are 32 parallel aggregates over the
    * (doc, token-hash) rows — one shuffle with map-side combine, not an
    * explode ×32 through the exchange. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val bitSums = (0 until 32).map { b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b")
    }
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), md5Long(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
              (0 until 32).map(b =>
                when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
                .reduce(_ + _).as("simhash"))
      .select(col("doc_id"), col("simhash"), expr("shiftright(simhash, 16)").as("bucket"))
  }

  /** Shared oracle CTE chain ending in `sb(doc_id, simhash, bucket)` —
    * ONE definition of the simhash formula for all three simhash-derived
    * oracles, so the twins cannot drift. */
  private val simhashCtes: String =
    """tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
      |th AS (
      |  SELECT doc_id, CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
      |bits AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) g
      |  GROUP BY doc_id, b),
      |sim AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id),
      |sb AS (SELECT doc_id, simhash, simhash >> 16 AS bucket FROM sim)""".stripMargin

  val dedupSimhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, simhash, bucket FROM sb""".stripMargin

  /** SimHash candidate pairs: same 16-bit prefix bucket, Hamming distance
    * ≤ 10 over the 32-bit signatures (bit_count(xor) — codegen'd builtin
    * in both engines). The bucket equi-join is the blocking step; the
    * Hamming filter is the exact residual check, mirroring the
    * range-join's bucket+residual pattern.
    *
    * Buckets beyond [[MaxBucketDocs]] are dropped, exactly like the
    * MinHash band buckets: a degenerate corpus (one template dominating a
    * 16-bit prefix) would otherwise make a single bucket quadratic. Same
    * inertness argument — max observed occupancy on the testdata is 121
    * (sf0.1), under half the cap, so the guard provably changes nothing
    * here and exists for the 100 TB case. Implemented as bucket-grouping
    * (collect the bucket's (doc, simhash) list, explode its i<j pairs)
    * rather than a self-join, so the token-explode + 32-bit-sum signature
    * pipeline runs ONCE instead of once per join side. The i<j explode
    * stays a nested transform(slice(...)): its elements are (doc_id,
    * simhash) structs, and the native [[graft.functions.CombinationPairs]]
    * takes an array<bigint> only. */
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    dedupSimhash(spark, dir)
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxBucketDocs)
      .select(explode(flatten(transform(col("ds"), (x, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), y =>
          struct(x.getField("doc_id").as("doc_a"),
                 y.getField("doc_id").as("doc_b"),
                 bit_count(x.getField("simhash").bitwiseXOR(y.getField("simhash")))
                   .as("hamming")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
              col("p.hamming").as("hamming"))
      .filter(col("hamming") <= 10)

  /** Shared bucket-cap CTE for the simhash oracles: buckets eligible for
    * pair generation (2..[[MaxBucketDocs]] occupants). */
  private val simhashBucketOkSql: String =
    s"""bok AS (
       |  SELECT bucket FROM sb
       |  GROUP BY bucket HAVING COUNT(*) BETWEEN 2 AND $MaxBucketDocs)""".stripMargin

  val dedupSimhashPairsSql: String =
    s"""WITH $simhashCtes,
       |$simhashBucketOkSql
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |JOIN bok ON bok.bucket = a.bucket
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 10""".stripMargin

  // ------------------------------------------------------- edit distance

  /** Prefix length for the edit-distance verification (bounds the O(n·m)
    * DP per pair). */
  private val EditPrefix = 120

  /**
   * Edit-distance fuzzy dedup — the exact-verification stage a production
   * fuzzy-dedup pipeline runs LAST: SimHash bucketing blocks candidates,
   * a tight Hamming residual (≤ 1 bit of 32) keeps only near-certain
   * pairs, and `levenshtein` over bounded prefixes scores exactly those.
   * The expensive O(prefix²) DP therefore runs on O(near-dups) pairs, not
   * O(n²) — at sf0.1 that is ~3.6k pairs of the 2M possible.
   *
   * Cross-engine: `levenshtein` is the classic DP in both engines
   * (identical integer results); edit_sim divides exact ints.
   */
  def dedupEditDistance(spark: SparkSession, dir: String): DataFrame = {
    // the candidate block IS dedupSimhashPairs, just tighter: one shared
    // implementation, narrowed from its ≤10 exploration threshold
    val cand = dedupSimhashPairs(spark, dir).filter(col("hamming") <= 1)
    val prefixes = t(spark, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, EditPrefix).as("prefix"))
    cand
      .join(prefixes.select(col("doc_id").as("doc_a"), col("prefix").as("pa")), "doc_a")
      .join(prefixes.select(col("doc_id").as("doc_b"), col("prefix").as("pb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("hamming"),
        levenshtein(col("pa"), col("pb")).as("lev"),
        (lit(1.0) - levenshtein(col("pa"), col("pb")).cast("double")
           / greatest(length(col("pa")), length(col("pb")))).as("edit_sim"))
  }

  val dedupEditDistanceSql: String =
    s"""WITH $simhashCtes,
       |$simhashBucketOkSql,
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |  FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
       |  JOIN bok ON bok.bucket = a.bucket
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
       |p AS (SELECT doc_id, substring(text, 1, $EditPrefix) AS prefix FROM documents)
       |SELECT doc_a, doc_b, hamming,
       |  CAST(levenshtein(pa.prefix, pb.prefix) AS INT) AS lev,
       |  1.0 - CAST(levenshtein(pa.prefix, pb.prefix) AS DOUBLE)
       |          / greatest(length(pa.prefix), length(pb.prefix)) AS edit_sim
       |FROM cand
       |JOIN p pa ON pa.doc_id = doc_a
       |JOIN p pb ON pb.doc_id = doc_b""".stripMargin

  // -------------------------------------------------------------- jaccard

  /** N-gram Jaccard near-dup: inverted-index self-join on 3-gram shingles
    * (lang-blocked), so only pairs sharing at least one shingle are ever
    * scored. Jaccard = |A∩B| / (|A| + |B| − |A∩B|) from exact integer
    * counts.
    *
    * Shape notes: (a) r13 measured posting-list groupBy + HIGHER-ORDER
    * pair explosion 8× slower than the hash self-join — interpreted
    * per-element lambdas with a struct allocation per application; r17
    * re-measured with the native codegen [[graft.functions
    * .CombinationPairs]] (built for market basket in r14) and the
    * posting-list form now WINS decisively (ShingleProbe at sf1: full
    * pair dataflow 6.6 s vs 15.8 s mins; adopted — see
    * [[shinglePairCountsFromHashed]]); (b) carrying size(shingles)
    * through the explode to skip the two count joins ran 12× slower —
    * CollapseProject inlines the shingling expression into a
    * per-exploded-row evaluation, so the doc-sized count joins stay. */
  /** Document-frequency cap on shingles: a shingle present in more than
    * this many documents (per lang) is boilerplate — a license header, a
    * scraped template — and joining through its posting list produces
    * O(df²) intersection rows from ONE shingle. Standard fuzzy-dedup
    * practice drops such shingles from the representation entirely (both
    * intersection and set sizes), which also makes Jaccard *more*
    * meaningful: two docs identical except for shared boilerplate no
    * longer inflate each other's similarity. Max observed df on the
    * testdata is 14 (sf0.1), 9× under the cap — provably inert here; at
    * corpus scale the hot list is tiny, so the exclusion is a broadcast
    * anti-join, not a second shuffle of the shingle rows. */
  private val MaxShingleDf = 128

  /**
   * Shared candidate machinery for the shingle-set similarity family
   * (Jaccard and containment): every pair of documents sharing at least
   * one non-hot shingle, with the intersection size and both set sizes.
   * The (lang, shingle) key collapses to one md5-derived 60-bit hash
   * BEFORE anything shuffles: the self-join and the hot-list anti-join
   * compare 8-byte longs instead of ~25-char strings, and no shingle
   * text ever leaves the scan stage.
   */
  private[graft] def shinglePairCounts(spark: SparkSession, dir: String): DataFrame =
    // no lineage cut here: the posting-list aggregate is the SOLE
    // consumer of the hashed shingle rows, so tokenize + explode + md5
    // fuse into its map side (the old two-consumer hot-list/anti-join
    // shape needed the cut; see shinglePairCountsFromHashed). No
    // [[shingled]] guard either: it tokenizes each document a second
    // time and removes no shingle row (NOTES.md).
    shinglePairCountsFromHashed(hashedShingles(t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), shingles3(toks(col("text"))).as("shingles"))))

  /** The hashed shingle table (doc_id, h) of a (doc_id, lang, shingles)
    * table: each distinct (lang, shingle) becomes one md5-derived 60-bit
    * key. Shared by [[shinglePairCounts]] (so [[dedupNgramJaccard]] and
    * [[dedupContainment]]) and [[evalMinhash]]. */
  private def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("lang"), explode(col("shingles")).as("shingle"))
      .select(col("doc_id"),
              md5Long(concat_ws("\u0001", col("lang"), col("shingle"))).as("h"))

  /** The Jaccard/containment pair machinery over a hashed shingle table
    * (doc_id, h) — also fed by [[evalMinhash]], which shares one
    * already-cut shingle pass across the LSH and Jaccard pipelines. */
  private[graft] def shinglePairCountsFromHashed(shAll: DataFrame): DataFrame = {
    // ONE corpus-sized exchange builds everything: per-shingle df AND the
    // df-capped posting list in the same aggregate, with the per-doc set
    // sizes (na/nb) derived from the surviving lists instead of a second
    // pass over the shingle rows. History: r13 shipped a hash self-join
    // on h plus a hot-list anti-join (two exchanges of the shingle rows
    // + two lineage cuts) after posting lists measured 8× slower with
    // interpreted HOF lambdas; r17 re-measured with the native codegen
    // CombinationPairs (built for market basket in r14) and the posting
    // form won (interleaved AbConf at sf1: 5.98 vs 8.18 s containment,
    // 7.61 vs 8.27 s jaccard), and this single-aggregate form then
    // subsumed the hot-list anti-join and the second shingle-row pass.
    // Bounded state: CollectLongsCapped stops retaining at cap+1
    // entries, so a billion-df boilerplate shingle costs cap+1 longs of
    // buffer, not a billion — surviving (df ≤ cap) lists are provably
    // complete, and truncated ones are discarded by the size filter
    // (exact: retained size = min(df, cap+1)) before anything observes
    // them. Pair multiplicity matches the old
    // join form exactly: a doc repeating a shingle m (resp. n) times
    // yields m·n (a,b) pairs from the sorted list, as the join's
    // cnt_a·cnt_b (full-outer equivalence check at sf1: 0 differing
    // rows); within-doc self-pairs (a,a) are the one divergence and are
    // filtered. 100 TB shape: nothing quadratic past the df cap
    // (≤ C(cap,2) pairs per shingle), shingle rows cross the wire ONCE,
    // executor state bounded.
    val byH = Checkpoints.cut(
      shAll.groupBy(col("h"))
        .agg(graft.functions.CollectLongsCapped
               .collectLongsCapped(col("doc_id"), MaxShingleDf + 1).as("ds0"))
        .filter(size(col("ds0")) <= MaxShingleDf) // exact df filter: the
        // collector stops retaining at cap+1, so size = min(df, cap+1)
        .select(sort_array(col("ds0")).as("ds")),
      eager = false) // two consumers (set sizes + pair explode);
                     // materialized by the first action over it
    val counts = byH.select(explode(col("ds")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = byH.filter(size(col("ds")) >= 2)
      .select(explode(
        graft.functions.CombinationPairs.combinationPairs(col("ds"))).as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
  }

  /** DuckDB twin of [[shinglePairCounts]] — the shared CTE prefix ending
    * in a `pairs(doc_a, doc_b, n_inter, na, nb)` relation. */
  private val shinglePairCountsSql: String =
    s"""WITH ts AS (
       |  SELECT doc_id, lang, string_split_regex(text, '\\s+') AS ts FROM documents),
       |sh_all AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substring(md5(lang || chr(1) || shingle), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, lang, unnest($shingles3Sql) AS shingle FROM ts)),
       |hot AS (
       |  SELECT h FROM sh_all GROUP BY h HAVING COUNT(*) > $MaxShingleDf),
       |sh AS (
       |  SELECT s.* FROM sh_all s
       |  WHERE NOT EXISTS (SELECT 1 FROM hot ho WHERE ho.h = s.h)),
       |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM sh a JOIN sh b
       |    ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b, n_inter, ca.n AS na, cb.n AS nb
       |  FROM inter
       |  JOIN cnt ca ON ca.doc_id = doc_a
       |  JOIN cnt cb ON cb.doc_id = doc_b)""".stripMargin

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsFrom(shinglePairCounts(spark, dir))

  private def jaccardPairsFrom(pairCounts: DataFrame): DataFrame =
    pairCounts
      .select(col("doc_a"), col("doc_b"),
              (col("n_inter").cast("double") / (col("na") + col("nb") - col("n_inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)

  val dedupNgramJaccardSql: String =
    s"""$shinglePairCountsSql
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (na + nb - n_inter) AS jaccard
       |FROM pairs
       |WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.5""".stripMargin

  /** Containment pair threshold: |A∩B| / min(|A|, |B|). */
  private val MinContainment = 0.8

  /**
   * Containment near-dup detection [EXT]: pairs where the SMALLER
   * document's shingle set is ≥80% inside the larger one's —
   * |A∩B| / min(|A|,|B|). Jaccard misses sub-document duplication (a
   * chapter pasted into a book scores |chapter|/|book| ≈ 0); containment
   * is the standard complement (the metric behind suffix-style "doc B
   * contains doc A" filters). Identical candidate machinery and scale
   * shape as [[dedupNgramJaccard]] — hashed shingles, df-capped hot
   * list, one materialized shingle table — only the denominator differs,
   * so the 100 TB analysis (no quadratic edge past the cap) carries over
   * unchanged.
   */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    shinglePairCounts(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
              least(col("na"), col("nb")).as("n_min"),
              (col("n_inter").cast("double") / least(col("na"), col("nb"))).as("containment"))
      .filter(col("containment") >= MinContainment)

  val dedupContainmentSql: String =
    s"""$shinglePairCountsSql
       |SELECT doc_a, doc_b, n_inter, LEAST(na, nb) AS n_min,
       |  CAST(n_inter AS DOUBLE) / LEAST(na, nb) AS containment
       |FROM pairs
       |WHERE CAST(n_inter AS DOUBLE) / LEAST(na, nb) >= $MinContainment""".stripMargin

  /**
   * Incremental dedup [EXT] — the production shape of near-dup detection
   * once a corpus is live: an incoming batch (here the `src0` slice — a
   * new crawl dump) is matched against the EXISTING corpus index, not
   * all-pairs against itself. Candidates are (new, old) pairs sharing
   * any MinHash band; per new document the match count and the earliest
   * matching old document come back, 0/NULL for clean docs.
   *
   * Scale shape: at 100 TB the old side's banded signatures are a
   * precomputed, persisted artifact (the same table the batch pipeline's
   * [[bandedSignaturesOf]] emits) — the incremental run only signatures
   * the new batch and equi-joins it against the index on (band, sig).
   * Hot index buckets beyond [[MaxBucketDocs]] are dropped exactly like
   * the batch path's (a templated signature would otherwise fan every
   * matching new doc out ×bucket); the new side needs no cap — each new
   * doc meets a bucket once per band.
   */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val newDocs = docs.filter(col("source") === "src0")
    val oldBuckets = bucketsOf(bandedSignaturesOf(docs.filter(col("source") =!= "src0")))
      .filter(size(col("ids")) <= MaxBucketDocs)
    val perNew = bandedSignaturesOf(newDocs)
      .join(oldBuckets, Seq("band", "sig"))
      .select(col("doc_id").as("new_doc"), explode(col("ids")).as("old_doc"))
      .distinct()
      .groupBy(col("new_doc"))
      .agg(count(lit(1)).as("n_matches"), min(col("old_doc")).as("first_match"))
    newDocs.select(col("doc_id").as("new_doc"))
      .join(perNew, Seq("new_doc"), "left")
      .withColumn("n_matches", coalesce(col("n_matches"), lit(0L)))
  }

  val dedupIncrementalSql: String =
    s"""$bandedSignaturesSql,
       |sides AS (SELECT doc_id, source = 'src0' AS is_new FROM documents),
       |oldsz AS (
       |  SELECT band, sig FROM bands JOIN sides USING (doc_id)
       |  WHERE NOT is_new
       |  GROUP BY band, sig HAVING COUNT(*) <= $MaxBucketDocs),
       |cand AS (
       |  SELECT DISTINCT nb.doc_id AS new_doc, ob.doc_id AS old_doc
       |  FROM bands nb
       |  JOIN sides sn ON sn.doc_id = nb.doc_id AND sn.is_new
       |  JOIN bands ob ON ob.band = nb.band AND ob.sig = nb.sig
       |  JOIN sides so ON so.doc_id = ob.doc_id AND NOT so.is_new
       |  JOIN oldsz ON oldsz.band = ob.band AND oldsz.sig = ob.sig),
       |pernew AS (
       |  SELECT new_doc, COUNT(*) AS n_matches, MIN(old_doc) AS first_match
       |  FROM cand GROUP BY 1)
       |SELECT d.doc_id AS new_doc,
       |  CAST(COALESCE(p.n_matches, 0) AS BIGINT) AS n_matches,
       |  p.first_match
       |FROM (SELECT doc_id FROM documents WHERE source = 'src0') d
       |LEFT JOIN pernew p ON p.new_doc = d.doc_id""".stripMargin

  /** Duplicated-span window width in tokens. The exact-substring dedup
    * literature uses 50-token windows over BPE ids; 10 suits the 10–99
    * token synthetic docs with the same collision behavior (tiny vocab,
    * so only genuine clone spans repeat at width 10). */
  private val SubstrW = 10

  /**
   * Exact duplicated-substring detection [EXT] — the window-level twin of
   * exact-substring training-data dedup (suffix-array dedup à la
   * "Deduplicating Training Data Makes Language Models Better"): hash
   * every [[SubstrW]]-token window (stride 1), find windows occurring
   * more than once in the corpus, and score each document by how much of
   * it is duplicated span. A pipeline would cut or down-weight documents
   * with high `dup_pm`; unlike doc-level MinHash this catches a copied
   * paragraph inside an otherwise-unique document.
   *
   * Scale shape: windows are hashed per row (no window text crosses a
   * shuffle — only the 8-byte hash), duplicated hashes come from one
   * count-aggregate, and the mark-back is an equi-join on the hash whose
   * build side is only the duplicated-window set (near-dup mass, ≪
   * corpus; AQE broadcasts it until it genuinely outgrows memory). The
   * per-occurrence window table is 1:W with the token count — the same
   * constant-factor blowup the suffix-array build pays on disk.
   */
  def dedupSubstr(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .withColumn("n_windows",
        greatest(lit(0L), size(col("ts")).cast("long") - (SubstrW - 1)))
    val wins = d
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.ngramsJoined(col("ts"), SubstrW))
          .as("win"))
      .select(col("doc_id"), md5Long(col("win")).as("h"))
    val dup = wins.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
    val perDoc = wins.join(dup, "h")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    d.select(col("doc_id"), col("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_pm",
        when(col("n_windows") === 0, 0L)
          .otherwise(expr("(n_dup * 1000000) div n_windows")))
  }

  val dedupSubstrSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents),
       |base AS (
       |  SELECT doc_id, GREATEST(0, len(ts) - ${SubstrW - 1}) AS n_windows FROM d),
       |wins AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(win), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id,
       |          unnest(CASE WHEN len(ts) >= $SubstrW
       |            THEN list_transform(range(1, len(ts) - ${SubstrW - 2}),
       |                   i -> array_to_string(ts[i : i + ${SubstrW - 1}], ' '))
       |            ELSE [] END) AS win
       |        FROM d)),
       |dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(*) >= 2),
       |perdoc AS (
       |  SELECT doc_id, COUNT(*) AS n_dup FROM wins JOIN dup USING (h)
       |  GROUP BY 1)
       |SELECT b.doc_id, CAST(b.n_windows AS BIGINT) AS n_windows,
       |  CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
       |  CASE WHEN b.n_windows = 0 THEN 0
       |       ELSE (CAST(COALESCE(p.n_dup, 0) AS BIGINT) * 1000000) // b.n_windows
       |  END AS dup_pm
       |FROM base b LEFT JOIN perdoc p ON p.doc_id = b.doc_id""".stripMargin

  // ------------------------------------- suffix-array exact-substring dedup

  /** Map each (a, b) class pair to its dense lexicographic rank via the
    * TWO-PASS DISTRIBUTED dense rank — no single-partition Window/Sort
    * anywhere. The DISTINCT class table is range-partitioned and sorted
    * within partitions on (ra, rb); because the table is distinct, the
    * dense rank of a class is exactly its position in that global sort,
    * so pass 1 assigns contiguous per-partition indices and pass 2 adds
    * each partition's prefix offset (the partition-count side job inside
    * `zipWithIndex` — range partitions are emitted in key order, so the
    * offsets ARE the prefix sums). Early doubling rounds have
    * O(corpus-positions) distinct classes; every task here sorts only
    * its own range slice, which is what survives 100 TB. Rank VALUES are
    * identical to `dense_rank() OVER (ORDER BY ra, rb)` (proven in
    * CorpusOps3Spec's `dedupSuffixArray` and `doublingRound` tests), so
    * order preservation across doubling rounds — which prefix doubling
    * requires — is unchanged. */
  private[graft] def classRank(df: DataFrame, out: String): DataFrame = {
    val spark = df.sparkSession
    val classes = df.select(col("ra"), col("rb")).distinct()
    val sorted = classes
      .repartitionByRange(col("ra"), col("rb"))
      .sortWithinPartitions(col("ra"), col("rb"))
    val schema = sorted.schema
      .add(out, org.apache.spark.sql.types.LongType, nullable = false)
    // persist BEFORE zipWithIndex: its partition-count side job otherwise
    // executes the whole distinct+range-sort subtree once at construction
    // and the final plan executes it AGAIN (measured at sf1: 6.1 s of the
    // suffix-array query's cost was this double execution). The cache is
    // class-table-sized; Bench/Verify's releaseAll drops it per query.
    val srdd = sorted.rdd
    srdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranked = spark.createDataFrame(
      srdd.zipWithIndex.map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (i + 1L))
      }, schema)
    // The rank table comes back as a LogicalRDD — no stats, so the
    // planner assumes huge and shuffle-joins the corpus-positions-sized
    // probe side on two string keys (measured at sf1: ~5 s of the
    // suffix-array query). But the class table is already materialized
    // (zipWithIndex's side job ran over the now-cached RDD), so make the
    // size-aware call the optimizer can't. The gate is on estimated
    // BYTES, not a bare row count (ra/rb can be arbitrary token strings
    // — 1M rows of long keys would fit where 1M rows of 1 KiB keys would
    // not): one job over the cached RDD sums count + per-row key bytes
    // (2 B/char + field/row overheads, the hashed-relation shape), and
    // the hint fires only under both 1M rows and 64 MiB. Bigger class
    // tables (early doubling rounds of a truly huge corpus) keep the
    // shuffle join.
    val (nClasses, estBytes) = srdd.mapPartitions { it =>
      var n = 0L; var b = 0L
      it.foreach { row =>
        n += 1; b += 32L // row object + long rank + hashed-relation slot
        var i = 0
        while (i < row.length) {
          row.get(i) match {
            case s: String => b += 24L + 2L * s.length
            case _ => b += 8L
          }
          i += 1
        }
      }
      Iterator((n, b))
    }.fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    val rankedSide =
      if (nClasses <= 1000000L && estBytes <= (64L << 20)) broadcast(ranked)
      else ranked
    df.join(rankedSide, Seq("ra", "rb"))
  }

  /** One prefix-doubling round: pair each position's rank with the rank
    * `k` positions later (−1 sentinel past the document end — real ranks
    * are ≥ 1, so truncated suffixes can never merge with full ones) and
    * dense-rank the pairs, doubling the ranked prefix length. The gated
    * query's fixed window bottoms out before needing a round (see
    * [[dedupSuffixArray]]); this is the path a full suffix-array build
    * iterates log₂(n) times, kept live and spec-pinned
    * (CorpusOps3Spec "doublingRound") for that downstream. Input and
    * output schema: (doc_id, n_toks, off, r). */
  private[graft] def doublingRound(ranks: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("off"))
    val paired = ranks.select(col("doc_id"), col("n_toks"), col("off"),
        col("r").as("ra"),
        coalesce(lead(col("r"), k).over(w), lit(-1L)).as("rb"))
    classRank(paired, "r")
      .select(col("doc_id"), col("n_toks"), col("off"), col("r"))
  }

  /**
   * Exact-substring dedup via a DISTRIBUTED SUFFIX ARRAY [EXT] — the
   * deduplicate-text-datasets (Lee et al. 2022) ExactSubstr approach,
   * built by prefix doubling (Manber–Myers): rank every suffix by its
   * leading bigram, then re-rank by (rank_k(p), rank_k(p+k)) so the
   * ranked prefix length doubles per round — log₂(W) global sort-rounds
   * instead of hashing every window. For the FIXED [[SubstrW]]=10-token
   * window classification the doubling recursion bottoms out at the base
   * case (r11, was: one doubling round + an overlapping rank₄ triple):
   *
   *  - the base case ranks (token(p), token(p+1)) STRING pairs directly
   *    to rank₂ — dense rank is order-isomorphic under the monotonic
   *    vocab-rank map, so the separate vocabulary-ranking round the
   *    classic formulation starts with is a no-op;
   *  - five DISJOINT rank₂ spans tile a 10-token window exactly (bigrams
   *    at p, p+2, p+4, p+6, p+8 cover tokens p..p+9 contiguously and
   *    without overlap), so 5-tuple equality ⟺ 10-token equality —
   *    replacing the k=2 doubling round AND the rank₄ triple with one
   *    grouping, eliminating a whole dense-rank pass (distinct + range
   *    exchange + offset job + rank join). Only 8-byte ranks cross the
   *    classification shuffle, never window text — the suffix-array
   *    scale argument at 100 TB. When a downstream needs total suffix
   *    order, [[doublingRound]] iterates classRank to the full SA at
   *    log₂(n) cost (spec-pinned live).
   *
   * Windows are duplicates iff their class has ≥ 2 members.
   *
   * Output is BYTE-IDENTICAL to [[dedupSubstr]] (per-doc duplicated-
   * window counts), and the ORACLE IS [[dedupSubstrSql]] verbatim — the
   * hash-window algorithm in DuckDB against the suffix-array algorithm
   * in Spark, the strongest cross-engine differential on the surface
   * (two different algorithms, one answer).
   *
   * Scale shape: bigram classes are computed ARRAY-SIDE before the
   * explode (no window function anywhere in the gated plan), one dense
   * rank over the DISTINCT bigram table assigns rank₂ (the two-pass
   * distributed dense rank, see [[classRank]]), one doc-keyed
   * aggregation reassembles each document's rank sequence (documents
   * are bounded, so a doc's ranks always fit one task — no global or
   * single-partition sort), and the window 5-tuples are again computed
   * array-side. The post-rank lineage cut is LAZY — the assembly job
   * materializes it.
   */
  def dedupSuffixArray(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .withColumn("n_toks", size(col("ts")).cast("long"))
    // rank2 directly from the (token, next-token) string pair, built
    // ARRAY-SIDE (no doc-partitioned window pass anywhere in the plan).
    // The past-the-end sentinel must sort below and collide with no real
    // token, including a pathological empty one: real next-tokens get a
    // constant U+0002 prefix (order-preserving), the sentinel is "".
    val bigram = d.select(col("doc_id"), col("n_toks"),
        posexplode(expr(
          """transform(ts, (tk, i) -> struct(
            |  tk AS ra,
            |  IF(i + 2 <= size(ts), concat('\u0002', element_at(ts, i + 2)), '') AS rb))"""
            .stripMargin)).as(Seq("off", "pr")))
      .select(col("doc_id"), col("n_toks"), col("off"),
              col("pr.ra"), col("pr.rb"))
    val rank2 = Checkpoints.cut(classRank(bigram, "r")
      .select(col("doc_id"), col("n_toks"), col("off"), col("r")),
      eager = false)
    // reassemble each doc's rank sequence (struct sort == sort by off:
    // off is the leading field), then tile every FULL 10-token window
    // with its 5 disjoint bigram ranks, again array-side; the sequence
    // upper bound keeps every subscript in bounds
    val full = rank2.groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("off"), col("r")))).as("prs"))
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(prs) >= $SubstrW
           |  THEN transform(sequence(0, size(prs) - $SubstrW),
           |    p -> struct(prs[p].r AS ra, prs[p+2].r AS rb, prs[p+4].r AS rc,
           |                prs[p+6].r AS rd, prs[p+8].r AS re))
           |  ELSE CAST(array() AS ARRAY<STRUCT<ra: BIGINT, rb: BIGINT,
           |    rc: BIGINT, rd: BIGINT, re: BIGINT>>) END""".stripMargin))
        .as("w"))
      .select(col("doc_id"), col("w.ra"), col("w.rb"), col("w.rc"),
              col("w.rd"), col("w.re"))
    val tup = Seq("ra", "rb", "rc", "rd", "re")
    val dup = full.groupBy(tup.map(col): _*)
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(tup.map(col): _*)
    val perDoc = full.join(dup, tup)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    d.select(col("doc_id"),
        greatest(lit(0L), col("n_toks") - (SubstrW - 1)).as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
      .withColumn("dup_pm",
        when(col("n_windows") === 0, 0L)
          .otherwise(expr("(n_dup * 1000000) div n_windows")))
  }

  /** The hash-window twin IS the oracle: same answer, different
    * algorithm (see [[dedupSuffixArray]]). */
  val dedupSuffixArraySql: String = dedupSubstrSql

  // --------------------------------------------- LSH index quality eval

  /**
   * Dedup-index evaluation harness [EXT]: precision/recall of the
   * MinHash-LSH candidate pairs ([[dedupMinhashLsh]]) against the exact
   * df-capped n-gram Jaccard truth set ([[dedupNgramJaccard]]) — the
   * scorecard that tunes the bands/rows trade-off of every production
   * near-dup index (more bands = recall, longer bands = precision).
   * One scorecard row, all metrics exact integer per-mille; completes
   * the eval trilogy with [[graft.operators.TextAnalysis.evalLangid]]
   * and [[Similarity.evalRetrieval]].
   *
   * Scale shape: both inputs are the already-scale-shaped pair
   * pipelines; the eval is one equi-join on the pair key plus a global
   * roll-up of counts.
   */
  def evalMinhash(spark: SparkSession, dir: String): DataFrame = {
    // full-outer join on the pair key + ONE aggregate, so each input
    // pipeline appears exactly once in the DAG: the previous three
    // crossJoined count aggregates re-ran the minhash pipeline and the
    // shingle-pair pipeline twice each (measured 1.7x slower at sf0.1).
    // Both pipelines start from the SAME scan + tokenize + 3-shingle
    // pass (the heaviest map work in either): cut `(doc_id, lang,
    // shingles)` once, so the corpus is scanned and shingled exactly
    // once for the whole scorecard. The LSH side signs the shingle
    // column in the map; the Jaccard side hashes it with
    // [[hashedShingles]], as [[shinglePairCounts]] does. Each side's hash is
    // bit-identical to its standalone query's, so the eval scores
    // exactly the gated [[dedupMinhashLsh]]/[[dedupNgramJaccard]]
    // artifacts.
    val sh = Checkpoints.cut(shingled(t(spark, dir, "documents"), col("lang")))
    val cand = minhashPairsFromBanded(bandedSignaturesFromWide(signaturesOf(sh)))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_cand"))
    val truth = jaccardPairsFrom(shinglePairCountsFromHashed(hashedShingles(sh)))
      .select(col("doc_a"), col("doc_b"), lit(1L).as("in_truth"))
    cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        coalesce(sum(col("in_cand")), lit(0L)).as("n_cand"),
        coalesce(sum(col("in_truth")), lit(0L)).as("n_truth"),
        coalesce(sum(col("in_cand") * col("in_truth")), lit(0L)).as("n_hit"))
      .select(col("n_cand"), col("n_truth"), col("n_hit"),
        when(col("n_cand") > 0, expr("(n_hit * 1000) div n_cand"))
          .otherwise(0L).as("precision_pm"),
        when(col("n_truth") > 0, expr("(n_hit * 1000) div n_truth"))
          .otherwise(0L).as("recall_pm"))
  }

  val evalMinhashSql: String =
    s"""WITH cand AS ($dedupMinhashLshSql),
       |truth AS (SELECT doc_a, doc_b FROM ($dedupNgramJaccardSql)),
       |hit AS (SELECT c.doc_a, c.doc_b FROM cand c
       |        JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
       |n AS (
       |  SELECT (SELECT COUNT(*) FROM cand) AS n_cand,
       |         (SELECT COUNT(*) FROM truth) AS n_truth,
       |         (SELECT COUNT(*) FROM hit) AS n_hit)
       |SELECT CAST(n_cand AS BIGINT) AS n_cand,
       |       CAST(n_truth AS BIGINT) AS n_truth,
       |       CAST(n_hit AS BIGINT) AS n_hit,
       |       CASE WHEN n_cand > 0 THEN (n_hit * 1000) // n_cand ELSE 0 END AS precision_pm,
       |       CASE WHEN n_truth > 0 THEN (n_hit * 1000) // n_truth ELSE 0 END AS recall_pm
       |FROM n""".stripMargin
}
