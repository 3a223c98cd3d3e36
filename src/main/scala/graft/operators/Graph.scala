package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Graph analytics over the near-dup similarity graph [EXT]: PageRank on
 * the MinHash-LSH candidate-pair graph ([[Dedup.dedupMinhashLsh]]). In a
 * training-data pipeline this is the standard centrality pass over a
 * document-similarity (or citation/link) graph — rank mass concentrates
 * on documents with many near-duplicates, which is a strong popularity /
 * boilerplate signal for mixing and filtering decisions.
 *
 * Scale shape: each iteration is one equi-join of the edge list against
 * the current rank vector plus one sum-aggregate — the classic
 * Pregel/GraphX PageRank dataflow, shuffling only (node, contribution)
 * pairs. Iteration count is fixed ([[PrIters]]), so the plan is a
 * bounded chain; edges are checkpointed once so the LSH signature
 * pipeline never re-runs across iterations.
 *
 * Determinism: double-precision PageRank sums contributions in
 * accumulation order, which no distributed engine fixes. All arithmetic
 * here is 64-bit integer in micro-units ([[PrOne]] = 1.0): contributions
 * are `pr div deg`, the damped update is
 * `0.15 + 0.85 · Σ contrib` in micros with integer div — associative,
 * partitioning-independent, and bit-identical in the DuckDB oracle.
 */
object Graph {

  /** Fixed iteration count (rank mass settles quickly on shallow
    * near-dup clusters; a web-graph deployment would run ~20). */
  private val PrIters = 5

  /** 1.0 in integer micro-units. */
  private val PrOne = 1000000L

  /** Damping factor 0.85 in micro-units. */
  private val Damp = 850000L

  /** The undirected edge list of a pair list: each row plus its copy with
    * doc_a and doc_b swapped. Any other column (SSSP's `w`) rides along. */
  private[operators] def undirected(pairs: DataFrame): DataFrame =
    pairs.union(pairs.select(pairs.columns.toIndexedSeq.map {
      case "doc_a" => col("doc_b").as("doc_a")
      case "doc_b" => col("doc_a").as("doc_b")
      case c => col(c)
    }: _*))

  /** PageRank over the undirected LSH candidate graph: nodes are the
    * documents appearing in any candidate pair, every edge runs both
    * ways. Returns (doc_id, deg, pr) with pr in micro-units. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
    val edges = Checkpoints.cut(undirected(pairs))
    val deg = Checkpoints.cut(
      edges.groupBy(col("doc_a").as("doc_id")).agg(count(lit(1)).as("deg")))
    var pr = deg.withColumn("pr", lit(PrOne))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(pr, edges("doc_a") === pr("doc_id"))
        .select(col("doc_b").as("doc_id"),
                expr("pr div deg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("c"))
      // symmetric graph: every node with an edge also receives one, so
      // the inner join keeps exactly the node set. No per-iteration
      // checkpoint: unlike the run-to-fixpoint CC loop there is no
      // per-round driver action here, and the unrolled chain is a
      // bounded 5-deep linear plan that fuses into one job (measured
      // 2.4 → 2.0 s at sf0.1; the rest is the LSH pair pipeline).
      pr = deg.join(contrib, "doc_id")
        .select(col("doc_id"), col("deg"),
                (lit(PrOne - Damp) + expr(s"($Damp * c) div $PrOne")).as("pr"))
    }
    pr
  }

  /** Oracle: identical integer PageRank, iterations unrolled as chained
    * CTEs over the shared LSH pair CTE chain. */
  val graphPagerankSql: String = {
    def iter(k: Int): String =
      s"""it$k AS (
         |  SELECT d.doc_id, d.deg,
         |         ${PrOne - Damp} + ($Damp * s.c) // $PrOne AS pr
         |  FROM deg d JOIN (
         |    SELECT e.doc_b AS doc_id, CAST(SUM(p.pr // p.deg) AS BIGINT) AS c
         |    FROM edges e JOIN it${k - 1} p ON p.doc_id = e.doc_a
         |    GROUP BY 1) s ON s.doc_id = d.doc_id)""".stripMargin
    s"""${Dedup.minhashPairsCtes},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (
       |  SELECT doc_a AS doc_id, COUNT(*) AS deg FROM edges GROUP BY 1),
       |it0 AS (SELECT doc_id, deg, CAST($PrOne AS BIGINT) AS pr FROM deg),
       |${(1 to PrIters).map(iter).mkString(",\n")}
       |SELECT doc_id, CAST(deg AS BIGINT) AS deg, CAST(pr AS BIGINT) AS pr
       |FROM it$PrIters""".stripMargin
  }

  /**
   * Triangle counting over the same similarity graph [EXT]: per-document
   * triangle membership — in a near-dup graph a triangle is a mutually-
   * similar triple, and high triangle counts mark dense clone clusters
   * (where pairwise transitivity holds) versus chains (where it
   * doesn't — a classic dedup-quality diagnostic).
   *
   * Shape: the canonical two-join node-iterator on the a<b<c ordered
   * edge list — each triangle materializes exactly ONCE (ordering is
   * the standard 6× dedup trick), then each corner credits its three
   * nodes via one explode. Both joins are equi-joins on document ids;
   * the heavy intermediate is the wedge set, which the a<b<c constraint
   * already halves. (At web scale you'd orient edges by degree instead
   * of id — same plan shape, smaller wedge set.)
   */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = Checkpoints.cut(Dedup.dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b")))
    val wedges = e.as("e1")
      .join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
              col("e2.doc_b").as("c"))
    val tris = wedges
      .join(e.as("e3"), col("a") === col("e3.doc_a") && col("c") === col("e3.doc_b"))
      .select(col("a"), col("b"), col("c"))
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val graphTrianglesSql: String =
    s"""${Dedup.minhashPairsCtes},
       |w AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM pairs e1 JOIN pairs e2 ON e1.doc_b = e2.doc_a),
       |tri AS (
       |  SELECT a, b, c FROM w JOIN pairs e3 ON w.a = e3.doc_a AND w.c = e3.doc_b),
       |corners AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri)
       |SELECT doc_id, COUNT(*) AS n_triangles
       |FROM corners GROUP BY 1""".stripMargin

  // -------------------------------------------------------------- graph_bfs

  /** BFS depth bound: hop distances beyond this are cut off (a web-scale
    * deployment bounds its frontier the same way). */
  private val BfsMaxHops = 4

  /** Seed rule: every node whose doc_id is divisible by this — a
    * deterministic multi-source seed set spread across the graph. */
  private val BfsSeedMod = 50L

  /**
   * Multi-source BFS hop distance over the near-dup similarity graph
   * [EXT] — "how many similarity hops is each document from a seed
   * document": the reachability/contamination-radius pass a pipeline
   * runs when a set of documents is flagged (benchmark leaks, takedowns)
   * and everything within k near-dup hops must be reviewed.
   *
   * Scale shape: [[graphSssp]]'s semi-naive relaxation with unit edge
   * costs — each round joins the edge list against the frontier only and
   * merges by `min` into the settled table, so the shuffled data is
   * proportional to the frontier, never the graph; rounds are a fixed
   * unroll (no per-round driver action), with [[Checkpoints.cut]]
   * keeping the settled-table lineage flat (and durable under the
   * reliable-checkpoint flag). The oracle is DuckDB's semi-naive
   * recursive CTE — an independent check of the shared loop in the other
   * paradigm, like `dedup_components`.
   */
  def graphBfs(spark: SparkSession, dir: String): DataFrame =
    bfsOf(Dedup.dedupMinhashLsh(spark, dir))

  /** BFS over any undirected pair list (doc_a, doc_b) — factored for
    * direct testing on crafted graphs, like [[Dedup.componentsOf]]: the
    * [[relaxOf]] loop with every edge weighing 1. With unit weights a
    * settled node never improves, so "improved" is exactly BFS's "newly
    * reached" and the cost is the hop distance, cut at [[BfsMaxHops]]. */
  private[operators] def bfsOf(pairs: DataFrame): DataFrame =
    relaxOf(pairs, lit(1L), BfsMaxHops)
      .select(col("doc_id"), col("cost").cast("int").as("dist"))

  // ------------------------------------------------------------- graph_sssp

  /** Relaxation-round bound: costs are minimized over paths of at most
    * this many edges (the same frontier bound BFS uses). */
  private val SsspMaxHops = 4

  /**
   * Multi-source WEIGHTED shortest paths over the near-dup similarity
   * graph [EXT] — the weighted refinement of [[graphBfs]]: edges cost
   * `5 − shared_bands` (1 for pairs agreeing on all 4 LSH bands, 4 for
   * marginal single-band candidates), so the distance is a total
   * DISSIMILARITY budget — strong near-dup links propagate a flagged
   * document's review radius much further than weak ones, which is how a
   * contamination sweep actually wants to spread.
   *
   * Scale shape: bounded Bellman–Ford with a semi-naive frontier — each
   * round joins the edge list against only the nodes whose cost IMPROVED
   * last round, takes the per-target `min`, and merges by `min` into the
   * settled table; shuffled data is proportional to the improved
   * frontier, never the graph, and all costs are integers so `min` is
   * associative and partitioning-independent. After R rounds the table
   * is exactly "min cost over paths of ≤ R edges", which the oracle
   * reproduces as a recursive CTE enumerating ≤ R-edge walks — like
   * [[graphBfs]], the same algorithmic claim checked across paradigms.
   */
  def graphSssp(spark: SparkSession, dir: String): DataFrame =
    ssspOf(Dedup.minhashWeightedPairsOf(t(spark, dir, "documents")))

  /** The weighted pass over any undirected pair list (doc_a, doc_b,
    * n_bands) — factored for direct testing on crafted graphs, like
    * [[bfsOf]]: the [[relaxOf]] loop with edges costing 5 − n_bands. */
  private[operators] def ssspOf(wpairs: DataFrame): DataFrame =
    relaxOf(wpairs, lit(5L) - col("n_bands"), SsspMaxHops)

  /** The bounded-relaxation loop of [[bfsOf]] and [[ssspOf]] over the
    * undirected pairs (doc_a, doc_b, …) with edge cost `w` (a long
    * expression over the pair columns): (doc_id, cost), the min cost over
    * paths of at most `hops` edges from the seeds (the nodes divisible by
    * [[BfsSeedMod]]). */
  private def relaxOf(pairs: DataFrame, w: Column, hops: Int): DataFrame = {
    val edges = Checkpoints.cut(
      undirected(pairs.select(col("doc_a"), col("doc_b"), w.as("w"))))
    // no cut on the seed table (r18): its two round-1 consumers (the
    // settled side of the merge and the initial frontier) are the same
    // subtree inside ONE action, so exchange reuse already computes the
    // seed distinct once — the cut bought a Catalyst-planned action.
    val seeds = edges.select(col("doc_a").as("doc_id")).distinct()
      .filter(pmod(col("doc_id"), lit(BfsSeedMod)) === 0)
    var dist = seeds.withColumn("cost", lit(0L))
    var frontier = dist
    for (_ <- 1 to hops) {
      // ONE cut and ONE aggregate per round (r18; the r17 form's two
      // actions and three exchanges per round were ~95% fixed cost): the
      // raw relaxations stream into the SAME min-aggregate that merges
      // the settled table. A settled node carries its cost on both
      // columns, a relaxation carries (cost + w, null) — min(c) is the new
      // settled cost (integer min is associative), min(old) the prior one
      // (null ⇔ new node). improved ⇔ new or the round beat the settled
      // cost; improved rows' cost IS the winning relaxation.
      val relax = edges.join(frontier, edges("doc_a") === frontier("doc_id"))
        .select(col("doc_b").as("doc_id"), (col("cost") + col("w")).as("c"),
                lit(null).cast("long").as("old"))
      // Lazy cut: its shuffle stage runs here; its final aggregate runs
      // once, in the first job that reads it (the next round's cut), and
      // both consumers (settled side + frontier) read those blocks
      val merged = Checkpoints.cut(
        dist.select(col("doc_id"), col("cost").as("c"), col("cost").as("old"))
          .union(relax)
          .groupBy(col("doc_id"))
          .agg(min(col("c")).as("cost"), min(col("old")).as("settled"))
          .select(col("doc_id"), col("cost"),
                  (col("settled").isNull ||
                   col("cost") < col("settled")).as("improved")),
        eager = false)
      dist = merged.select(col("doc_id"), col("cost"))
      frontier = merged.filter(col("improved"))
        .select(col("doc_id"), col("cost"))
    }
    dist
  }

  val graphSsspSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashWeightedPairsCtesFrom("documents")},
       |edges AS (
       |  SELECT doc_a, doc_b, CAST(5 - n_bands AS BIGINT) AS w FROM wpairs
       |  UNION ALL
       |  SELECT doc_b, doc_a, CAST(5 - n_bands AS BIGINT) AS w FROM wpairs),
       |seeds AS (
       |  SELECT DISTINCT doc_a AS doc_id FROM edges
       |  WHERE doc_a % $BfsSeedMod = 0),
       |walk(doc_id, cost, hops) AS (
       |  SELECT doc_id, CAST(0 AS BIGINT) AS cost, 0 AS hops FROM seeds
       |  UNION
       |  SELECT e.doc_b, w.cost + e.w, w.hops + 1
       |  FROM walk w JOIN edges e ON e.doc_a = w.doc_id
       |  WHERE w.hops < $SsspMaxHops)
       |SELECT doc_id, CAST(MIN(cost) AS BIGINT) AS cost
       |FROM walk GROUP BY 1""".stripMargin

  // ------------------------------------------------- graph_label_propagation

  /** Fixed synchronous LPA round count: near-dup communities are shallow
    * (cliques and short chains), so labels settle in 2-3 rounds; a
    * social-graph deployment would run ~10 with an oscillation guard. */
  private val LpaIters = 3

  /**
   * Community detection via synchronous label propagation over the
   * near-dup similarity graph [EXT] — the standard cheap community pass
   * (Raghavan et al. 2007) a pipeline runs to group template families /
   * boilerplate clusters beyond connected components: where
   * `dedup_components` merges anything reachable, LPA's neighbor-majority
   * vote splits chains at their weak points while keeping cliques whole.
   *
   * Determinism (vanilla LPA is notoriously order-dependent): updates
   * are SYNCHRONOUS (round k+1 reads only round k's labels) and the
   * vote tie-break is total — max neighbor count, then smallest label —
   * so the result is partitioning- and schedule-independent, and the
   * DuckDB oracle replays the identical rounds as unrolled CTEs with a
   * `row_number` vote.
   *
   * Scale shape: each round is ONE equi-join of the edge list against
   * the label vector plus two aggregations ((node, label) vote counts,
   * then per-node argmax) — the Pregel LPA dataflow, shuffling only
   * (node, label, count) triples; rounds are a fixed unroll with lazy
   * lineage cuts. Community sizes come from one final label aggregate.
   */
  def graphLabelProp(spark: SparkSession, dir: String): DataFrame =
    lpaOf(Dedup.dedupMinhashLsh(spark, dir))

  /** The LPA rounds over any undirected pair list, ending in ONE lineage
    * cut of the final (doc_id, label) table — shared by [[lpaOf]] (which
    * consumes it twice for the size join) and [[graphModularity]] (which
    * consumes it three times and has no use for the sizes). The rounds
    * themselves are a fixed unroll chained into one plan, like
    * [[graphPagerank]]: each round references the previous label table
    * exactly ONCE (join → two aggregates), so the chain is linear — the
    * per-round cuts the old form paid (a full Catalyst planning + job
    * per round, the r17 BuildProf finding: ~95% of this family's wall
    * time is per-action fixed cost) bought nothing. */
  private[operators] def lpaLabelsOf(pairs: DataFrame): DataFrame = {
    val edges = Checkpoints.cut(undirected(pairs))
    var lab = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    for (_ <- 1 to LpaIters) {
      // symmetric graph: every node has >= 1 neighbor, so the inner
      // join keeps exactly the node set each round
      val votes = edges.join(lab, edges("doc_a") === lab("doc_id"))
        .select(col("doc_b").as("n_id"), col("label"))
        .groupBy(col("n_id"), col("label")).agg(count(lit(1)).as("c"))
      lab = votes
        .groupBy(col("n_id").as("doc_id"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("doc_id"), (-col("m.nl")).as("label"))
    }
    Checkpoints.cut(lab)
  }

  /** The LPA loop over any undirected pair list (doc_a, doc_b) —
    * factored for direct testing on crafted graphs. */
  private[operators] def lpaOf(pairs: DataFrame): DataFrame = {
    val lab = lpaLabelsOf(pairs)
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    lab.join(sizes, "label")
      .select(col("doc_id"), col("label"), col("csize"))
  }

  // ----------------------------------------------------------- graph_kcore

  /** Core order and peeling-round bound: [[KcoreK]]=3 keeps nodes with
    * ≥3 surviving neighbors; [[KcoreRounds]]=3 synchronous peels — the
    * shallow near-dup graph settles immediately (a web/social graph
    * would peel to fixpoint with a convergence check). */
  private val KcoreK = 3
  private val KcoreRounds = 3

  /**
   * Bounded k-core peeling over the near-dup similarity graph [EXT] —
   * the density/cohesion diagnostic that separates CLONE CLUSTERS
   * (cliques: every member keeps ≥k neighbors under peeling) from
   * incidental similarity chains (pendant paths: peeled away): the
   * survivors of 3-core peeling are the template families worth a
   * one-per-cluster sampling decision, where plain components
   * ([[Dedup]]'s `dedup_components`) cannot tell a chain from a clique.
   *
   * Each synchronous peel recomputes every surviving node's degree in
   * the SURVIVING subgraph and drops nodes below k — deterministic
   * (counts only, no tie-breaks needed). Output: survivors after
   * [[KcoreRounds]] peels with their final in-subgraph degree.
   *
   * Scale shape: per round, TWO semi-joins of the edge list against the
   * alive set (both endpoints must survive) and one count aggregate —
   * shuffled data ∝ surviving edges, which only shrinks; rounds are a
   * fixed unroll with lazy lineage cuts. The oracle unrolls the same
   * peels as CTEs.
   */
  def graphKcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(Dedup.dedupMinhashLsh(spark, dir))

  /** The peeling loop over any undirected pair list (doc_a, doc_b) —
    * factored for direct testing on crafted graphs. */
  private[operators] def kcoreOf(pairs: DataFrame): DataFrame = {
    val edges = Checkpoints.cut(undirected(pairs))
    var alive = edges.select(col("doc_a").as("doc_id")).distinct()
    for (_ <- 1 to KcoreRounds) {
      // Lazy cut (r18): the peel's join and partial degree count run as
      // shuffle stages when the cut is taken; its final aggregate runs
      // once, in the first job that reads it (the next peel's cut, whose
      // two endpoint semi-joins both read the blocks) — one
      // materialization job per peel saved. Measured r17 (lazyCuts A/B,
      // this query): −11% sf0.1 / −5% sf1.
      val deg = Checkpoints.cut(edges
        .join(alive.select(col("doc_id").as("doc_a")), "doc_a")
        .join(alive.select(col("doc_id").as("doc_b")), "doc_b")
        .groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as("deg")),
        eager = false)
      alive = deg.filter(col("deg") >= KcoreK).select(col("doc_id"))
    }
    // final degree re-measured in the surviving subgraph, so the output
    // is self-consistent: every reported deg counts only co-survivors
    edges
      .join(alive.select(col("doc_id").as("doc_a")), "doc_a")
      .join(alive.select(col("doc_id").as("doc_b")), "doc_b")
      .groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KcoreK)
  }

  /** Oracle: identical synchronous peels as unrolled CTEs. */
  val graphKcoreSql: String = {
    def peel(k: Int): String =
      s"""deg$k AS (
         |  SELECT e.doc_a AS doc_id, COUNT(*) AS c
         |  FROM edges e
         |  JOIN alive${k - 1} a ON a.doc_id = e.doc_a
         |  JOIN alive${k - 1} b ON b.doc_id = e.doc_b
         |  GROUP BY 1),
         |alive$k AS (SELECT doc_id FROM deg$k WHERE c >= $KcoreK)"""
        .stripMargin
    s"""WITH ${Dedup.minhashPairsCtesFrom("documents")},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |alive0 AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
       |${(1 to KcoreRounds).map(peel).mkString(",\n")},
       |fin AS (
       |  SELECT e.doc_a AS doc_id, COUNT(*) AS deg
       |  FROM edges e
       |  JOIN alive$KcoreRounds a ON a.doc_id = e.doc_a
       |  JOIN alive$KcoreRounds b ON b.doc_id = e.doc_b
       |  GROUP BY 1)
       |SELECT doc_id, CAST(deg AS BIGINT) AS deg
       |FROM fin WHERE deg >= $KcoreK""".stripMargin
  }

  /** One synchronous LPA round as unrolled CTEs — the argmax vote is
    * `row_number() ... ORDER BY c DESC, label ASC`. Shared by the LP and
    * modularity oracles. */
  private def lpaRoundSql(k: Int): String =
    s"""n$k AS (
       |  SELECT e.doc_b AS doc_id, l.label, COUNT(*) AS c
       |  FROM edges e JOIN lab${k - 1} l ON l.doc_id = e.doc_a
       |  GROUP BY 1, 2),
       |lab$k AS (
       |  SELECT doc_id, label FROM n$k
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |                             ORDER BY c DESC, label ASC) = 1)"""
      .stripMargin

  /** The shared LPA preamble: pairs CTEs + symmetric edges + seed labels
    * + [[LpaIters]] unrolled rounds (final labels are `lab$LpaIters`). */
  private def lpaCtes: String =
    s"""${Dedup.minhashPairsCtesFrom("documents")},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |lab0 AS (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM edges),
       |${(1 to LpaIters).map(lpaRoundSql).mkString(",\n")}""".stripMargin

  /** Oracle: identical synchronous rounds as unrolled CTEs. */
  val graphLabelPropSql: String =
    s"""WITH $lpaCtes,
       |sizes AS (
       |  SELECT label, CAST(COUNT(*) AS BIGINT) AS csize
       |  FROM lab$LpaIters GROUP BY 1)
       |SELECT l.doc_id, l.label, s.csize
       |FROM lab$LpaIters l JOIN sizes s USING (label)""".stripMargin

  // ------------------------------------------------------- graph_modularity

  /**
   * NEWMAN MODULARITY of the LPA communities over the near-dup graph
   * [EXT] — the partition-quality score (Newman & Girvan 2004) that turns
   * "label propagation produced SOME labels" into a measured claim:
   *
   *   Q = Σ_c [ e_c/m − (d_c / 2m)² ]
   *
   * per community c with e_c intra-community edges, d_c the sum of member
   * degrees, m total undirected edges. Emitted per community (the global
   * Q is the column sum, law-pinned in CorpusOps7Spec) so the table names
   * WHICH clusters are cohesive versus incidental — the audit run before
   * trusting dedup cluster labels for one-per-cluster sampling.
   *
   * Determinism: e_c, d_c, m are exact counts; the contribution
   * (4·m·e_c − d_c²)/(4·m²) is quantized to ppm by one integer division
   * with an explicit sign split, because the numerator CAN be negative
   * and Spark's `div` truncates while DuckDB's `//` floors — identical
   * only for non-negative operands (the same guard as events_trend).
   *
   * Scale shape: the LSH pair list is lineage-cut ONCE and feeds both the
   * LPA loop and the modularity joins (the r14 common-neighbors lesson —
   * never re-run the MinHash pipeline per consumer); labels are node-
   * sized, degrees come from one count per endpoint, e_c from one
   * broadcast-label join over the cut pairs. Everything after the pair
   * list is node/community-sized.
   */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Checkpoints.cut(Dedup.dedupMinhashLsh(spark, dir))
    // lpaLabelsOf already ends in a lineage cut of exactly the
    // (doc_id, label) table this needs — the old lpaOf(...) call here
    // also computed the community-size aggregate + join only to discard
    // it, then cut the selection a second time (r18).
    val lab = lpaLabelsOf(pairs)
    val edges = undirected(pairs)
    val deg = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
    val m = pairs.agg(count(lit(1)).as("m"))
    val eIn = pairs
      .join(lab.select(col("doc_id").as("doc_a"), col("label").as("la")), "doc_a")
      .join(lab.select(col("doc_id").as("doc_b"), col("label").as("lb")), "doc_b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("e_in"))
    lab.join(deg, "doc_id")
      .groupBy(col("label"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_nodes"))
      .join(eIn, Seq("label"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("num", expr("4L * m * e_in - deg_sum * deg_sum"))
      .withColumn("contrib_ppm", expr(
        """CASE WHEN num >= 0L THEN (1000000L * num) div (4L * m * m)
          |     ELSE -((1000000L * (-num)) div (4L * m * m)) END""".stripMargin))
      .select("label", "n_nodes", "e_in", "deg_sum", "m", "contrib_ppm")
  }

  val graphModularitySql: String =
    s"""WITH $lpaCtes,
       |lab AS (SELECT doc_id, label FROM lab$LpaIters),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
       |deg AS (SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |ein AS (
       |  SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
       |  FROM pairs p
       |  JOIN lab la ON la.doc_id = p.doc_a
       |  JOIN lab lb ON lb.doc_id = p.doc_b
       |  WHERE la.label = lb.label GROUP BY 1),
       |ds AS (
       |  SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS deg_sum,
       |         CAST(COUNT(*) AS BIGINT) AS n_nodes
       |  FROM lab l JOIN deg d USING (doc_id) GROUP BY 1),
       |f AS (
       |  SELECT ds.label, ds.n_nodes, COALESCE(e.e_in, 0) AS e_in,
       |         ds.deg_sum, m.m,
       |         4 * m.m * COALESCE(e.e_in, 0) - ds.deg_sum * ds.deg_sum AS num
       |  FROM ds LEFT JOIN ein e USING (label) CROSS JOIN m)
       |SELECT label, n_nodes, CAST(e_in AS BIGINT) AS e_in, deg_sum, m,
       |  CAST(CASE WHEN num >= 0 THEN (1000000 * num) // (4 * m * m)
       |            ELSE -((1000000 * (-num)) // (4 * m * m)) END AS BIGINT)
       |    AS contrib_ppm
       |FROM f""".stripMargin

  // ---------------------------------------------------- graph_assortativity

  /**
   * DEGREE ASSORTATIVITY of the near-dup graph [EXT] — Newman (2002):
   * the Pearson correlation of endpoint degrees over directed edges.
   * Positive r = hubs link hubs (social-graph shape: one template family
   * snowballing); negative r = hubs link leaves (star shape: one hot doc
   * near-dup'd by many singletons). The one-number structure probe read
   * BEFORE deciding whether cluster-level dedup sampling is safe — star
   * graphs make "keep one per component" drop unique content.
   *
   * Over the symmetric edge list (M = 2m directed edges, x = deg(src),
   * y = deg(dst); by symmetry Σx = Σy and Σx² = Σy²):
   *
   *   r = (M·Σxy − Σx·Σy) / (M·Σx² − (Σx)²)
   *
   * Determinism: all four moments are exact BIGINT sums (the zipf-fit
   * moment playbook); r itself is one double division of two exact
   * integers + round(6) — bit-identical cross-engine. Degenerate
   * regular graphs (den = 0: every degree equal) emit NULL by an
   * explicit guard in both engines. Degrees are bounded by the LSH
   * MaxBucketDocs cap, so M·Σxy stays far under 2⁶³ (a web-scale graph
   * moves the moments to DECIMAL(38,0) — the fertility note).
   *
   * Scale shape: one degree count + one degree join per endpoint
   * (strategy left to AQE — broadcast while deg fits, shuffle beyond) +
   * ONE global moment aggregate — no windows, nothing node-pair-sized
   * beyond the edge list itself.
   */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Checkpoints.cut(Dedup.dedupMinhashLsh(spark, dir))
    val edges = undirected(pairs)
    val deg = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
    // No broadcast hints: the degree table is NODE-count-sized (the LSH
    // cap bounds degree VALUES, not node count), so at web scale a forced
    // broadcast would blow the driver — leave join strategy to AQE, which
    // broadcasts at test scale and falls back to shuffle joins when deg
    // outgrows the threshold (the graphModularity label-join policy).
    edges
      .join(deg.select(col("doc_id").as("doc_a"), col("deg").as("dx")), "doc_a")
      .join(deg.select(col("doc_id").as("doc_b"), col("deg").as("dy")), "doc_b")
      .agg(count(lit(1)).as("m_directed"),
           sum(col("dx")).as("sum_x"),
           sum(col("dx") * col("dx")).as("sum_x2"),
           sum(col("dx") * col("dy")).as("sum_xy"))
      .withColumn("num", expr("m_directed * sum_xy - sum_x * sum_x"))
      .withColumn("den", expr("m_directed * sum_x2 - sum_x * sum_x"))
      .withColumn("assortativity",
        when(col("den") =!= 0L,
             round(col("num").cast("double") / col("den").cast("double"), 6)))
      .select("m_directed", "sum_x", "sum_x2", "sum_xy", "assortativity")
  }

  val graphAssortativitySql: String =
    s"""WITH ${Dedup.minhashPairsCtesFrom("documents")},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |mo AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS m_directed,
       |         CAST(SUM(da.deg) AS BIGINT) AS sum_x,
       |         CAST(SUM(da.deg * da.deg) AS BIGINT) AS sum_x2,
       |         CAST(SUM(da.deg * db.deg) AS BIGINT) AS sum_xy
       |  FROM edges e
       |  JOIN deg da ON da.doc_id = e.doc_a
       |  JOIN deg db ON db.doc_id = e.doc_b)
       |SELECT m_directed, sum_x, sum_x2, sum_xy,
       |  CASE WHEN m_directed * sum_x2 - sum_x * sum_x <> 0
       |       THEN round(CAST(m_directed * sum_xy - sum_x * sum_x AS DOUBLE)
       |                  / CAST(m_directed * sum_x2 - sum_x * sum_x AS DOUBLE), 6)
       |  END AS assortativity
       |FROM mo""".stripMargin

  val graphBfsSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashPairsCtesFrom("documents")},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |seeds AS (
       |  SELECT DISTINCT doc_a AS doc_id FROM edges
       |  WHERE doc_a % $BfsSeedMod = 0),
       |walk(doc_id, dist) AS (
       |  SELECT doc_id, 0 AS dist FROM seeds
       |  UNION
       |  SELECT e.doc_b, w.dist + 1
       |  FROM walk w JOIN edges e ON e.doc_a = w.doc_id
       |  WHERE w.dist < $BfsMaxHops)
       |SELECT doc_id, CAST(MIN(dist) AS INT) AS dist
       |FROM walk GROUP BY 1""".stripMargin

  // ------------------------------------------------------------ graph_hits

  /** HITS rounds (one round = authority update + hub update); mutual
    * reinforcement on a shallow bipartite graph settles in two. */
  private val HitsRounds = 2

  /** 1.0 in integer L1-normalization units. 1e6 (not PageRank's wider
    * micro-unit budget) because the pre-normalization raw sums multiply
    * a unit-scaled score by an edge weight and then by [[HitsScale]]
    * inside the normalizing division: raw ≤ HitsScale·Σw, so
    * raw·HitsScale ≤ 1e12·Σw — int64-safe through Σw ≈ 9e6 events per
    * normalization domain. Beyond that (the 100 TB case) the same plan
    * normalizes per shard and rescales hierarchically, exactly like the
    * [[TextAnalysis]] collocation counts; DuckDB's hugeint SUM hides
    * the bound, Spark's long SUM does not, so the bound is documented
    * where it binds. */
  private val HitsScale = 1000000L

  /**
   * HITS (hubs & authorities) over the bipartite user↔event-type
   * interaction graph [EXT] — the classic Kleinberg iteration on a
   * clickstream: event types that attract engaged users score as
   * authorities, users whose activity concentrates on authoritative
   * types score as hubs. In a training-data pipeline this is the
   * interaction-graph twin of PageRank: a source-quality /
   * account-weighting signal derived purely from structure.
   *
   * Scale shape: the graph is collapsed ONCE to weighted edges
   * (user, type, count) — a map-side-combinable aggregate that shrinks
   * the event log to the distinct interaction matrix. Each half-round
   * is then one join + one sum-aggregate over those edges: the
   * authority table is event-type-sized and BROADCAST back, so the
   * user-side update never shuffles the edge list; the hub update
   * aggregates by user — the same Pregel dataflow as
   * [[graphPagerank]]. Normalization totals are one-row aggregates,
   * crossJoin(broadcast(...)).
   *
   * Determinism: all arithmetic is int64 in [[HitsScale]] units with
   * integer division (floor; all values non-negative), L1-normalized
   * each half-round — associative, partitioning-independent,
   * bit-identical in the oracle.
   */
  def graphHits(spark: SparkSession, dir: String): DataFrame =
    hitsOf(t(spark, dir, "events")
      .groupBy(col("user_id").as("u"), col("event_type").as("i"))
      .agg(count(lit(1)).as("w")))

  /** HITS iteration on a weighted bipartite edge list (u, i, w) —
    * factored for direct spec replay against a hand-computed graph.
    *
    * Each L1 normalization references its raw-sum table twice (once for
    * the values, once for the total), so without a lineage cut the hub
    * subtree would duplicate exponentially across rounds (3ⁿ plan
    * copies — measured 76 exchanges at 2 rounds). The raw sums are
    * type-sized / user-sized, so cutting them per half-round is the
    * same per-iteration materialization [[graphKcore]] does per peel —
    * and exactly what a Pregel implementation persists anyway. */
  private[graft] def hitsOf(edges: DataFrame): DataFrame = {
    val e = Checkpoints.cut(edges)
    // hub0 = 1 unit per user
    var hub = e.select(col("u")).distinct().withColumn("hub", lit(1L))
    for (_ <- 1 to HitsRounds) {
      // Lazy cuts (r18): each raw-sum table's join and partial sum run as
      // shuffle stages when its cut is taken; the final aggregate runs
      // once, in the first job that reads it, and both consumers (values
      // + normalizing total) read those blocks — no separate
      // materialization job per half-round. Measured r17 (lazyCuts A/B,
      // this query): −17% sf0.1 / −12% sf1.
      val ar = Checkpoints.cut(e.join(hub, "u")
        .groupBy(col("i")).agg(sum(col("hub") * col("w")).as("s")),
        eager = false)
      val auth = ar.crossJoin(broadcast(ar.agg(sum(col("s")).as("tot"))))
        .select(col("i"), expr(s"(s * $HitsScale) div tot").as("auth"))
      val hr = Checkpoints.cut(e.join(broadcast(auth), "i")
        .groupBy(col("u")).agg(sum(col("auth") * col("w")).as("s")),
        eager = false)
      hub = hr.crossJoin(broadcast(hr.agg(sum(col("s")).as("tot"))))
        .select(col("u"), expr(s"(s * $HitsScale) div tot").as("hub"))
    }
    e.groupBy(col("u")).agg(count(lit(1)).as("n_types"))
      .join(hub, "u")
      .select(col("u").as("user_id"), col("n_types"),
              col("hub").as("hub_units"))
  }

  /** Oracle: identical integer HITS, half-rounds unrolled as CTEs; the
    * normalizing totals are scalar subqueries. DuckDB sums BIGINT into
    * HUGEINT, so every normalized score is cast back to BIGINT. */
  val graphHitsSql: String = {
    def round(k: Int): String =
      s"""ar$k AS (
         |  SELECT e.i, SUM(h.hub * e.w) AS s
         |  FROM e JOIN h${k - 1} h USING (u) GROUP BY 1),
         |a$k AS (
         |  SELECT i, CAST(s * $HitsScale // (SELECT SUM(s) FROM ar$k) AS BIGINT) AS auth
         |  FROM ar$k),
         |hr$k AS (
         |  SELECT e.u, SUM(a.auth * e.w) AS s
         |  FROM e JOIN a$k a USING (i) GROUP BY 1),
         |h$k AS (
         |  SELECT u, CAST(s * $HitsScale // (SELECT SUM(s) FROM hr$k) AS BIGINT) AS hub
         |  FROM hr$k)""".stripMargin
    s"""WITH e AS (
       |  SELECT user_id AS u, event_type AS i, COUNT(*) AS w
       |  FROM events GROUP BY 1, 2),
       |nt AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS n_types FROM e GROUP BY 1),
       |h0 AS (SELECT u, CAST(1 AS BIGINT) AS hub FROM nt),
       |${(1 to HitsRounds).map(round).mkString(",\n")}
       |SELECT nt.u AS user_id, nt.n_types, h.hub AS hub_units
       |FROM nt JOIN h$HitsRounds h USING (u)""".stripMargin
  }

  // ------------------------------------------------------- link prediction

  /**
   * Common-neighbor link prediction [EXT] — for every NON-adjacent
   * document pair sharing at least one neighbor in the near-dup graph:
   * the common-neighbor count and the resource-allocation index
   * (Σ 1/deg(m) over shared neighbors m, Zhou et al.) in integer
   * micro-units. In a dedup pipeline these are the "missed edge"
   * candidates: two documents each near-dup to a third but not (yet) to
   * each other — exactly where a banded LSH loses recall — so the top
   * RA-scored non-edges are the audit list for a second-pass exact
   * comparison. RA is used instead of Adamic–Adar (1/ln deg)
   * deliberately: `1e6 div deg` is exact integer arithmetic,
   * bit-identical across engines, where ln is libm.
   *
   * Scale shape: group each middle node's neighbor set ONCE and explode
   * its i<j combinations — exactly the C(deg, 2) wedges, with no deg²
   * self-join probe rows ever materialized (the earlier self-join
   * generated Σ deg(m)² matches and then filtered half away). Note that
   * degree-ORIENTATION, the triangle-count trick, does NOT apply here:
   * a triangle has three wedge witnesses so any one suffices, but a
   * common-neighbor count needs EVERY wedge exactly once — direct
   * combination enumeration over the adjacency list is the web-scale
   * shape. Degrees stay bounded by [[Dedup]]'s MaxBucketDocs LSH cap,
   * so the collected neighbor list is small by construction.
   *
   * Determinism: counts and integer division only.
   */
  def graphCommonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val e = Checkpoints.cut(undirected(pairs))
    val deg = e.groupBy(col("doc_a").as("mid")).agg(count(lit(1)).as("deg"))
    val wedges = e
      .groupBy(col("doc_b").as("mid"))
      .agg(sort_array(collect_list(col("doc_a"))).as("ns"))
      .select(col("mid"), explode(
        graft.functions.CombinationPairs.combinationPairs(col("ns"))).as("p"))
      .select(col("p.a").as("u"), col("mid"), col("p.b").as("v"))
    // link PREDICTION: drop wedge pairs that are already edges. The edge
    // set is derived from the checkpointed e (canonical doc_a < doc_b
    // half) so the LSH pipeline behind `pairs` executes exactly once.
    val cand = wedges.join(
      e.filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a").as("u"), col("doc_b").as("v")),
      Seq("u", "v"), "left_anti")
    cand.join(deg, "mid")
      .groupBy(col("u").as("doc_a"), col("v").as("doc_b"))
      .agg(count(lit(1)).as("common_neighbors"),
           sum(expr(s"$PrOne div deg")).as("ra_fp"))
  }

  /** Oracle: identical wedge/anti-join/rollup chain over the shared LSH
    * pair CTEs. */
  val graphCommonNeighborsSql: String =
    s"""${Dedup.minhashPairsCtes},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT doc_a AS mid, COUNT(*) AS deg FROM edges GROUP BY 1),
       |wdg AS (
       |  SELECT e1.doc_a AS u, e1.doc_b AS mid, e2.doc_b AS v
       |  FROM edges e1 JOIN edges e2
       |    ON e1.doc_b = e2.doc_a AND e1.doc_a < e2.doc_b),
       |cand AS (
       |  SELECT u, mid, v FROM wdg
       |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |                    WHERE p.doc_a = wdg.u AND p.doc_b = wdg.v))
       |SELECT u AS doc_a, v AS doc_b,
       |       CAST(COUNT(*) AS BIGINT) AS common_neighbors,
       |       CAST(SUM($PrOne // deg) AS BIGINT) AS ra_fp
       |FROM cand JOIN deg USING (mid)
       |GROUP BY 1, 2""".stripMargin

  /**
   * Jaccard link prediction [EXT] — the union-normalized sibling of
   * [[graphCommonNeighbors]]: J(u,v) = |N(u)∩N(v)| / |N(u)∪N(v)| =
   * cn / (deg(u) + deg(v) − cn), in exact ppm integer units. CN ranks
   * raw overlap (favors hub pairs); Jaccard is the baseline that
   * corrects for degree, so the two together are the standard
   * link-prediction panel over the near-dup graph. Same
   * adjacency-combination wedge plan (C(deg,2) rows, LSH-capped
   * degrees); the only additions are two equi-joins of the candidate
   * rollup against the degree table — candidate- and node-sized
   * tables, never corpus-sized.
   */
  def graphJaccardLinks(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val e = Checkpoints.cut(undirected(pairs))
    val deg = e.groupBy(col("doc_a").as("nid")).agg(count(lit(1)).as("deg"))
    val wedges = e
      .groupBy(col("doc_b").as("mid"))
      .agg(sort_array(collect_list(col("doc_a"))).as("ns"))
      .select(explode(
        graft.functions.CombinationPairs.combinationPairs(col("ns"))).as("p"))
      .select(col("p.a").as("u"), col("p.b").as("v"))
    val cn = wedges.join(
        e.filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a").as("u"), col("doc_b").as("v")),
        Seq("u", "v"), "left_anti")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common_neighbors"))
    cn.join(deg.select(col("nid").as("u"), col("deg").as("deg_u")), "u")
      .join(deg.select(col("nid").as("v"), col("deg").as("deg_v")), "v")
      .select(col("u").as("doc_a"), col("v").as("doc_b"),
        col("common_neighbors"),
        expr(s"(common_neighbors * $PrOne) div (deg_u + deg_v - common_neighbors)")
          .as("jaccard_ppm"))
  }

  /** Oracle: the shared wedge/anti-join chain plus the two degree joins
    * and the identical ppm division. */
  val graphJaccardLinksSql: String =
    s"""${Dedup.minhashPairsCtes},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT doc_a AS nid, COUNT(*) AS deg FROM edges GROUP BY 1),
       |wdg AS (
       |  SELECT e1.doc_a AS u, e2.doc_b AS v
       |  FROM edges e1 JOIN edges e2
       |    ON e1.doc_b = e2.doc_a AND e1.doc_a < e2.doc_b),
       |cn AS (
       |  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
       |  FROM wdg
       |  WHERE NOT EXISTS (SELECT 1 FROM pairs p
       |                    WHERE p.doc_a = wdg.u AND p.doc_b = wdg.v)
       |  GROUP BY 1, 2)
       |SELECT u AS doc_a, v AS doc_b, common_neighbors,
       |  CAST((common_neighbors * $PrOne) // (du.deg + dv.deg - common_neighbors)
       |       AS BIGINT) AS jaccard_ppm
       |FROM cn JOIN deg du ON du.nid = cn.u
       |        JOIN deg dv ON dv.nid = cn.v""".stripMargin

  /**
   * Local clustering coefficient [EXT] — the per-node companion of
   * [[graphTriangles]] and the standard dense-clone-cluster diagnostic:
   * C(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), in exact ppm integers. On a
   * near-dup graph, C(v) ≈ 1 marks nodes inside transitive clone
   * cliques (safe to collapse to one canonical doc) while C(v) ≈ 0
   * marks chain/hub nodes where pairwise similarity does NOT imply
   * mutual similarity — the split the dedup-apply policy cares about.
   *
   * Scale shape: the a<b<c ordered node-iterator counts each triangle
   * once (same wedge bound as [[graphTriangles]], degrees LSH-capped);
   * degrees come from one count over the symmetric edge list; the final
   * assembly is a node-sized left join. deg = 1 nodes have no possible
   * wedge — their coefficient is NULL, guarded identically in both
   * engines (ANSI Spark and DuckDB both error on integer /0 otherwise).
   */
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val half = Checkpoints.cut(Dedup.dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b")))
    val deg = undirected(half)
      .groupBy(col("doc_a").as("doc_id")).agg(count(lit(1)).as("deg"))
    val wedges = half.as("e1")
      .join(half.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"),
              col("e2.doc_b").as("c"))
    val perNode = wedges
      .join(half.as("e3"), col("a") === col("e3.doc_a") && col("c") === col("e3.doc_b"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("doc_id"), col("deg"), col("n_triangles"),
              when(col("deg") >= 2,
                   expr("n_triangles * 2000000L div (deg * (deg - 1))"))
                .as("coeff_ppm"))
  }

  /** Oracle: the shared triangle chain, degree count, and the identical
    * guarded ppm division. */
  val graphClusteringCoeffSql: String =
    s"""${Dedup.minhashPairsCtes},
       |edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
       |        FROM edges GROUP BY 1),
       |w AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM pairs e1 JOIN pairs e2 ON e1.doc_b = e2.doc_a),
       |tri AS (
       |  SELECT a, b, c FROM w JOIN pairs e3 ON w.a = e3.doc_a AND w.c = e3.doc_b),
       |pn AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
       |    SELECT a AS doc_id FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY 1)
       |SELECT d.doc_id, d.deg,
       |       coalesce(pn.n_triangles, 0) AS n_triangles,
       |       CASE WHEN d.deg >= 2
       |            THEN (coalesce(pn.n_triangles, 0) * 2000000) // (d.deg * (d.deg - 1))
       |       END AS coeff_ppm
       |FROM deg d LEFT JOIN pn USING (doc_id)""".stripMargin
}
