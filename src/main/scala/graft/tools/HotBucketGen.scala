package graft.tools

/** Synthetic hot-bucket corpus for the bucketPairs volume proof
  * (VERDICT r17 item 3): the r17 native `CombinationPairs` substitution
  * in the LSH bucket explode shipped on structural argument because the
  * real corpus' bucket occupancy (max 10 docs/bucket at sf0.1) makes the
  * pair explode a no-op cost-wise. This generator builds a corpus where
  * the explode IS the workload: `nClusters` clusters of `clusterSize`
  * documents with IDENTICAL text per cluster — identical shingle sets
  * give identical 16-value MinHash signatures, so every cluster fills
  * its 4 band buckets to exactly `clusterSize` occupants (choose it near
  * but under Dedup.MaxBucketDocs = 256; the cap drops bigger buckets).
  * Each cluster then explodes 4 * C(clusterSize, 2) candidate pairs —
  * 500 x 200 defaults = 39.8M exploded pair rows from 100k docs, three
  * orders of magnitude above the sf0.1 corpus' pair volume.
  *
  * Texts are short (24 tokens -> 22 shingles) so signature computation
  * stays negligible and the A/B isolates the pair kernel. Token spaces
  * are disjoint across clusters, so no cross-cluster bucket collisions.
  *
  * Usage: HotBucketGen [nClusters] [clusterSize] [outDir]; then time
  * `dedup_minhash_lsh` with `SPARK_GRAFT_SF_DIR=<outDir>`. The A/B this
  * corpus was built for is settled and its conf gate deleted: at the
  * defaults the native pair kernel took 13.79 s against 19.95 s for the
  * higher-order-function form it replaced (NOTES.md records the run).
  */
object HotBucketGen {
  def main(args: Array[String]): Unit = {
    val nClusters = args.lift(0).map(_.toInt).getOrElse(500)
    val clusterSize = args.lift(1).map(_.toInt).getOrElse(200)
    val out = args.lift(2).getOrElse("/dev/shm/graft_hotbuckets")
    val spark = graft.Sessions.harness()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val docs = (0 until nClusters).flatMap { c =>
      val text = (0 until 24).map(w => s"c${c}w$w").mkString(" ")
      (0 until clusterSize).map(d => (c.toLong * 1000000L + d, text))
    }
    docs.toDF("doc_id", "text").repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"wrote $out/documents.parquet: $nClusters clusters x " +
      s"$clusterSize docs = ${nClusters * clusterSize} docs, " +
      s"${4L * nClusters * clusterSize * (clusterSize - 1) / 2} exploded pairs")
    spark.stop()
  }
}
