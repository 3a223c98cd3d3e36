package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Data-layout operators [EXT] — the write-side clustering a 100 TB table
 * needs so the READ side can skip files. Spark's min/max parquet footer
 * stats (and every lakehouse format's file-skipping index) prune a file
 * only when the query column is clustered; a linear sort clusters ONE
 * column and leaves every other dimension spanning the full domain in
 * every file. Z-ordering interleaves the bits of two (or more) key
 * columns so ranges of the combined curve are small rectangles in key
 * space — every interleaved dimension gets usable min/max bounds at
 * once (the technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`).
 */
object Layout {

  /** Bits per dimension in the interleave (8+8 → 16-bit z values) and the
    * z-range width of one layout bucket (≙ one output file). */
  private val ZBits = 8
  private val ZBucketWidth = 256

  /** The bit-interleave as a plain integer expression string, valid in
    * BOTH Spark SQL and DuckDB once the shift spellings are substituted:
    * even bits from `a`, odd bits from `b`. */
  private def zExpr(a: String, b: String, spark: Boolean): String =
    (0 until ZBits).map { i =>
      if (spark)
        s"(shiftleft(shiftright($a, $i) & 1, ${2 * i}) + shiftleft(shiftright($b, $i) & 1, ${2 * i + 1}))"
      else
        s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /**
   * Z-order layout audit over lineitem's (l_partkey, l_suppkey): scale
   * both keys to [[ZBits]]-bit grid cells (domain maxima from one scalar
   * aggregate, broadcast — never hardcoded), interleave the bits into a
   * 16-bit z value, bucket the curve into [[ZBucketWidth]]-wide ranges
   * (bucket ≙ output file of a `repartitionByRange(z)` write), and emit
   * each bucket's row count plus per-dimension min/max — exactly the
   * footer stats a scan's file-skipping would consult.
   *
   * The payoff is in the output itself: every bucket's partkey span AND
   * suppkey span are ~1/2^(ZBits/2) of their domains (the `area` column),
   * so a point predicate on EITHER key prunes ~15/16 of buckets, where a
   * partkey-sorted linear layout leaves l_suppkey unprunable (every file
   * spans the whole supplier domain). CorpusOps3Spec's `layoutZorder`
   * test asserts both pruning fractions against the linear-sort strawman.
   *
   * Scale shape: the z value is a pure per-row map (pushes to the scan);
   * the audit is ONE aggregate keyed by the 256-value bucket domain. The
   * production write is `repartitionByRange(z).sortWithinPartitions(z)`
   * — one range-exchange, the same cost as any global sort, paid once at
   * write time for every future scan's pruning.
   */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(col("l_partkey"), col("l_suppkey"))
    val dom = li.agg(max(col("l_partkey")).as("max_pk"),
                     max(col("l_suppkey")).as("max_sk"))
    val scaled = li.crossJoin(broadcast(dom)).selectExpr(
      "l_partkey", "l_suppkey",
      s"(l_partkey * ${1 << ZBits}) div (max_pk + 1) AS px",
      s"(l_suppkey * ${1 << ZBits}) div (max_sk + 1) AS sy")
    scaled
      .withColumn("z", expr(zExpr("px", "sy", spark = true)))
      .withColumn("bucket", expr(s"z div $ZBucketWidth"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
           min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
      .select(col("bucket"), col("n_rows"), col("min_pk"), col("max_pk"),
              col("min_sk"), col("max_sk"),
              ((col("max_pk") - col("min_pk") + 1) * (col("max_sk") - col("min_sk") + 1))
                .as("area"))
  }

  val layoutZorderSql: String =
    s"""WITH dom AS (
       |  SELECT MAX(l_partkey) AS max_pk, MAX(l_suppkey) AS max_sk FROM lineitem),
       |scaled AS (
       |  SELECT l_partkey, l_suppkey,
       |    (l_partkey * ${1 << ZBits}) // (max_pk + 1) AS px,
       |    (l_suppkey * ${1 << ZBits}) // (max_sk + 1) AS sy
       |  FROM lineitem CROSS JOIN dom),
       |z AS (
       |  SELECT l_partkey, l_suppkey,
       |    (${zExpr("px", "sy", spark = false)}) // $ZBucketWidth AS bucket
       |  FROM scaled)
       |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
       |  MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk,
       |  (MAX(l_partkey) - MIN(l_partkey) + 1) * (MAX(l_suppkey) - MIN(l_suppkey) + 1) AS area
       |FROM z GROUP BY 1""".stripMargin

  // ---------------------------------------------- size-targeted bin packing

  /** Target shard payload: 64 KiB of text per output file at test scale
    * (a production compaction targets ~512 MiB of parquet — only the
    * constant changes). */
  private val PackTarget = 65536L

  /**
   * SIZE-TARGETED SHARD PACKING [EXT] — the compaction pass every
   * petabyte table needs: assign documents to equal-payload output files
   * so no shard is a straggler and no file is a footer-overhead crumb.
   * Deterministic next-fit-decreasing: documents in (n_chars DESC,
   * doc_id) order, running payload sum, `file_id = cum_before div
   * target` — biggest docs pack first (the FFD-style bound), every file
   * lands within one document of the target, and the assignment is a
   * pure function of the corpus (no RNG, no partition count in the
   * result).
   *
   * The running sum is the TWO-PASS DISTRIBUTED PREFIX SUM — the
   * [[Dedup.classRank]] shape, never `SUM() OVER ()` with no partition
   * (a single-task sort of the corpus at 100 TB): range-partition +
   * in-partition sort on the pack order (lineage-cut so it executes
   * once), pass 1 collects P per-partition byte totals (P values to the
   * driver, not rows), pass 2 streams each partition adding its
   * broadcast exclusive offset. Range partitions are emitted in key
   * order, so the offsets ARE the prefix sums.
   *
   * Output is per-document (doc_id, n_chars, cum_before, file_id): the
   * exact cumulative byte positions, so the oracle's window formulation
   * differentially proves the whole prefix sum, not just file counts.
   */
  def layoutBinpack(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val sorted = Checkpoints.cut(
      t(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
        .repartitionByRange(col("n_chars").desc, col("doc_id"))
        .sortWithinPartitions(col("n_chars").desc, col("doc_id")))
    val rdd = sorted.rdd
    val partSums = rdd.mapPartitionsWithIndex { case (i, it) =>
      Iterator((i, it.map(_.getLong(1)).sum))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _).dropRight(1)
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_chars", LongType, nullable = false),
      StructField("cum_before", LongType, nullable = false),
      StructField("file_id", LongType, nullable = false)))
    val rows = rdd.mapPartitionsWithIndex { case (i, it) =>
      var run = bc.value(i)
      it.map { r =>
        val before = run
        run += r.getLong(1)
        org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), before,
                                 before / PackTarget)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  val layoutBinpackSql: String =
    s"""SELECT doc_id, n_chars,
       |  CAST(COALESCE(SUM(n_chars) OVER (
       |         ORDER BY n_chars DESC, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |       AS BIGINT) AS cum_before,
       |  CAST(COALESCE(SUM(n_chars) OVER (
       |         ORDER BY n_chars DESC, doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |       // $PackTarget AS BIGINT) AS file_id
       |FROM documents""".stripMargin
}
