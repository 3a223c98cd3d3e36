package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/**
 * Proof-of-plan tests for the scale techniques: bucketed co-located joins
 * (no exchange, no sort) and salted skew joins (multiset-equal results).
 */
class ScaleTechniquesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bucketed tables join with zero exchanges and zero sorts") {
    val orders = graft.operators.Tables.t(spark, TestSpark.Sf0001, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val lineitem = graft.operators.Tables.t(spark, TestSpark.Sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    // both sides bucketed and bucket-sorted on the join key
    orders.write.mode("overwrite").format("parquet")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    lineitem.write.mode("overwrite").format("parquet")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    try {
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      try {
        val joined = spark.table("lineitem_b")
          .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        val n = joined.count()
        // same answer as the plain (shuffling) join
        assert(n == lineitem.join(orders, col("l_orderkey") === col("o_orderkey")).count())
        val finalPlan = joined.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan.toString
          case p => p.toString
        }
        assert(finalPlan.contains("SortMergeJoin"), finalPlan)
        assert(!finalPlan.contains("Exchange"),
               s"bucketed join should not shuffle:\n$finalPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("hive-partitioned writes prune partitions at scan time") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      val orders = graft.operators.Tables.t(spark, TestSpark.Sf0001, "orders")
      orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      val read = spark.read.parquet(dir).filter(col("o_orderstatus") === "F")
      val scan = read.queryExecution.executedPlan.toString
      // the status predicate must become a partition filter, not a data filter
      assert(scan.contains("PartitionFilters") &&
             scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
               .contains("o_orderstatus"),
             s"expected partition pruning on o_orderstatus:\n$scan")
      assert(read.count() ==
             orders.filter(col("o_orderstatus") === "F").count())
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("z-ordered parquet write: both keys clustered per FILE, suppkey predicate skips rows a linear sort cannot") {
    import graft.operators.Tables
    val dir = java.nio.file.Files.createTempDirectory("graft_zord").toString
    try {
      val li = Tables.t(spark, TestSpark.Sf0001, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
      val dom = li.agg(max(col("l_partkey")).as("max_pk"),
                       max(col("l_suppkey")).as("max_sk")).first()
      val (mpk, msk) = (dom.getLong(0), dom.getLong(1))
      val zExpr = (0 until 8).map { i =>
        s"(shiftleft(shiftright(px, $i) & 1, ${2 * i}) + shiftleft(shiftright(sy, $i) & 1, ${2 * i + 1}))"
      }.mkString(" + ")
      def write(d: org.apache.spark.sql.DataFrame, path: String): Unit =
        d.write.mode("overwrite").parquet(path)
      // the production write: range-partition + sort by z → one file per range
      write(li.selectExpr("l_partkey", "l_suppkey",
              s"(l_partkey * 256) div (${mpk + 1}) AS px",
              s"(l_suppkey * 256) div (${msk + 1}) AS sy")
            .withColumn("z", expr(zExpr))
            .repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
            .select(col("l_partkey"), col("l_suppkey")),
            s"$dir/zorder")
      // strawman: same file count, linear partkey sort
      write(li.repartitionByRange(16, col("l_partkey"))
              .sortWithinPartitions(col("l_partkey")),
            s"$dir/linear")
      // per-FILE min/max — exactly what parquet footer stats expose
      def spans(path: String): Seq[(Long, Long)] =
        spark.read.parquet(path)
          .groupBy(input_file_name()).agg(min(col("l_suppkey")).as("lo"),
                                          max(col("l_suppkey")).as("hi"))
          .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
      val zs = spans(s"$dir/zorder")
      val ls = spans(s"$dir/linear")
      def meanSpan(s: Seq[(Long, Long)]): Double =
        s.map { case (lo, hi) => (hi - lo + 1).toDouble }.sum / s.size
      assert(meanSpan(zs) * 2 < meanSpan(ls),
        s"z-order files should bound l_suppkey: z=${meanSpan(zs)} linear=${meanSpan(ls)}")
      // file skipping for a point predicate on the SECOND dimension:
      // count files whose [min,max] can contain it
      val probe = msk / 2
      val zHit = zs.count { case (lo, hi) => lo <= probe && probe <= hi }
      val lHit = ls.count { case (lo, hi) => lo <= probe && probe <= hi }
      assert(zHit * 2 <= lHit,
        s"z-order should skip files a linear sort scans: z=$zHit/${zs.size} linear=$lHit/${ls.size}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("small-file compaction: coalesced rewrite preserves content exactly and bounds file count") {
    // the other chronic 100 TB write-side pathology: a streaming or
    // over-parallel writer leaves thousands of tiny files; the fix is a
    // periodic compaction rewrite sized to a target file count
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    try {
      val li = graft.operators.Tables.t(spark, TestSpark.Sf0001, "lineitem")
      li.repartition(64).write.mode("overwrite").parquet(s"$dir/small")
      val smallFiles = new java.io.File(s"$dir/small").listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(smallFiles >= 32) // the pathology is real
      // compaction = read + coalesce to target + rewrite (no shuffle:
      // coalesce merges partitions in place, unlike repartition)
      spark.read.parquet(s"$dir/small").coalesce(2)
        .write.mode("overwrite").parquet(s"$dir/compact")
      val bigFiles = new java.io.File(s"$dir/compact").listFiles
        .count(_.getName.endsWith(".parquet"))
      assert(bigFiles <= 2)
      // content is untouched: same multiset of rows
      val a = spark.read.parquet(s"$dir/small")
        .groupBy(col("l_orderkey"), col("l_linenumber")).count()
      val b = spark.read.parquet(s"$dir/compact")
        .groupBy(col("l_orderkey"), col("l_linenumber")).count()
      assert(a.except(b).isEmpty && b.except(a).isEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("dynamic partition pruning: a dim filter prunes the fact scan at runtime") {
    // The 100 TB pattern: fact partitioned by a key, dimension filtered at
    // query time — static pruning can't help (the partition values come
    // from the dim rows), so Spark builds the partition list from the
    // broadcast side DURING execution. The plan must show a
    // dynamicpruning subquery in the fact scan's PartitionFilters.
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    try {
      val orders = graft.operators.Tables.t(spark, TestSpark.Sf0001, "orders")
      // partition values read back from directory names come in as INT —
      // the dim key must match exactly or the inserted cast defeats DPP
      orders.withColumn("cust_mod", (col("o_custkey") % 10).cast("int"))
        .write.mode("overwrite").partitionBy("cust_mod").parquet(dir)
      val fact = spark.read.parquet(dir)
      // dim: written to parquet (not a LocalRelation) and filtered — DPP
      // requires a selective predicate on the build side to bother
      import spark.implicits._
      (0 until 10).map(i => (i, i * 2)).toDF("m", "tag")
        .write.mode("overwrite").parquet(s"$dir-dim")
      // the predicate is on tag, NOT the key: the surviving key set is
      // only discoverable by executing the dim scan, so static constraint
      // propagation can't pre-prune — this is DPP's home turf
      val dim = spark.read.parquet(s"$dir-dim").filter(col("tag") <= 6)
      val q = fact.join(dim, col("cust_mod") === col("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("n"))
      val n = q.count()
      assert(n == 4) // tag <= 6 → m in {0,1,2,3}
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
             s"fact scan should carry a dynamicpruning partition filter:\n$plan")
      // correctness: equals the unpartitioned computation
      val expect = orders
        .withColumn("cust_mod", (col("o_custkey") % 10).cast("int"))
        .filter(col("cust_mod").isin(0, 1, 2, 3))
        .groupBy(col("cust_mod")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val got = fact.join(dim, col("cust_mod") === col("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(new java.io.File(dir)); rm(new java.io.File(s"$dir-dim"))
    }
  }

  test("q6 pushes all predicates into the scan and reads only referenced columns") {
    val q = graft.operators.Relational.q6ForecastRevenue(spark, TestSpark.Sf0001)
    val scan = q.queryExecution.executedPlan.toString
    val pushed = scan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"expected $c pushed:\n$scan")
    val readSchema = scan.replaceAll("(?s).*ReadSchema: ([^\\n]*).*", "$1")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
           s"scan should prune unreferenced columns:\n$readSchema")
  }

  test("q3/q5 dimension joins broadcast; only the fact-fact join shuffles") {
    for (q <- Seq(
        graft.operators.Relational.q3ShippingPriority(spark, TestSpark.Sf0001),
        graft.operators.Relational.q5LocalSupplier(spark, TestSpark.Sf0001))) {
      q.collect() // materialize so AQE finalizes the physical plan
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("BroadcastHashJoin"), plan)
    }
  }

  test("tf-idf derives document frequency without re-shuffling raw tokens") {
    // the df branch must come from the tf aggregate, not a distinct over
    // the exploded tokens — no HashAggregate(keys=[doc_id, tok], functions=[])
    // (the fingerprint of a distinct) may appear
    val q = graft.operators.TextAnalysis.textTfidf(spark, TestSpark.Sf0001)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("deduplicate"), plan)
  }

  test("corpus_prep's quality gate pushes the n_chars predicate into the parquet scan") {
    val q = graft.operators.Pipeline.corpusPrep(spark, TestSpark.Sf0001)
    val scan = q.queryExecution.executedPlan.toString
    val pushed = scan.replaceAll("(?s).*PushedFilters: \\[([^\\]]*)\\].*", "$1")
    assert(pushed.contains("n_chars"), s"expected n_chars pushed:\n$scan")
  }

  test("q21 lowers EXISTS/NOT EXISTS to semi/anti hash joins with a top-k, no global sort") {
    val q = graft.operators.Relational.q21WaitingOrders(spark, TestSpark.Sf0001)
    q.collect() // finalize the adaptive plan
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    import spark.implicits._
    // thresholds scaled down to test size; the *mechanism* is what 100 TB
    // uses — OptimizeSkewedJoin splits the oversized shuffle partition
    // into advisory-sized sub-reads and replicates the matching partition
    // of the other side
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // hot key 0: 20k rows of ~256B payload (8 DISTINCT md5s per row —
      // a repeated or constant payload compresses into not-skewed shuffle
      // bytes) ≈ 5 MB in one shuffle partition; keys 1..40 ~100 rows each
      val big = ((1 to 20000).map(_ => 0L) ++ (1 to 4000).map(i => (i % 40 + 1).toLong))
        .toDF("k")
        .withColumn("payload", expr(
          "concat_ws('', transform(sequence(1, 8), " +
          "i -> md5(cast(monotonically_increasing_id() * 8 + i as string))))"))
      val dim = (0L to 40L).map(k => (k, s"dim_$k")).toDF("k", "name")
      val joined = big.join(dim, Seq("k"))
      // collect() executes THIS queryExecution (a count() would plan its
      // own), so the adaptive final plan below is the one that ran
      assert(joined.collect().length == 24000)
      val plan = joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("skew=true"), s"AQE skew split did not fire:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter: a selective dim filter prunes the fact side of a shuffle join") {
    // The non-partitioned sibling of DPP: when the fact table is NOT
    // partitioned by the join key, a selective creation-side filter can
    // still prune the application side at runtime — Spark builds a bloom
    // filter from the filtered dim keys and injects
    // bloom_filter_might_contain(l_orderkey) above the fact scan, so most
    // fact rows die before the shuffle instead of after it. Size
    // thresholds are scaled to test data; the mechanism is what a 100 TB
    // fact-fact join uses when bucketing/partitioning don't apply.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = graft.operators.Tables.t(spark, TestSpark.Sf0001, "lineitem")
      val ord = graft.operators.Tables.t(spark, TestSpark.Sf0001, "orders")
        .filter(col("o_totalprice") > 400000) // selective, non-key column
      val q = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val optimized = q.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") &&
             optimized.contains("bloom_filter_agg"),
             s"runtime bloom filter was not injected:\n$optimized")
      // correctness: identical to the un-filtered-plan computation
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expect = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE coalesces over-partitioned shuffles at runtime (why AQE stays ON)") {
    // Bench measured AQE ON beating OFF even at sf0.1 (q21 1.21 vs 1.55 s)
    // because tiny post-filter aggregates don't need 32 reducers. This
    // pins the mechanism: a small aggregate under a large configured
    // partition count must show a coalesced AQEShuffleRead in the final
    // adaptive plan — the runtime stands in for hand-tuned
    // spark.sql.shuffle.partitions per stage, which no one can do for
    // every query at 100 TB.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try {
      val q = graft.operators.Tables.t(spark, TestSpark.Sf0001, "orders")
        .filter(col("o_totalprice") > 400000)
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      q.collect()
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
             s"expected a coalesced AQEShuffleRead in the final plan:\n$plan")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("interval-overlap join runs as a hash join on bins, not a nested-loop theta join") {
    val q = graft.operators.JoinsExt.joinIntervalOverlap(spark, TestSpark.Sf0001)
    q.collect()
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert(!plan.contains("BroadcastNestedLoopJoin"),
           s"binning must turn the theta join into an equi-join:\n$plan")
    assert(plan.contains("HashJoin"), plan)
    // differential vs the naive theta formulation IN SPARK (the DuckDB
    // oracle re-checks the same thing cross-engine)
    import org.apache.spark.sql.functions._
    val act = graft.operators.Tables.events(spark, TestSpark.Sf0001)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .agg(min(unix_micros(col("ts"))).as("a_start"),
           max(unix_micros(col("ts"))).as("a_end"))
    val wins = spark.range(1).select(explode(expr(
        "sequence(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-31 18:00:00', INTERVAL 6 HOURS)")).as("w"))
      .select(unix_micros(col("w")).as("w_start_us"))
      .withColumn("w_end_us", col("w_start_us") + 6L * 3600 * 1000000)
    val naive = act.join(wins,
        col("a_start") < col("w_end_us") && col("w_start_us") < col("a_end"))
      .groupBy(col("w_start_us"))
      .agg(count(lit(1)).as("n_spans"),
           sum(least(col("a_end"), col("w_end_us")) -
               greatest(col("a_start"), col("w_start_us"))).as("sum_overlap_us"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = q.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == naive)
  }

  test("salted join returns exactly the plain join's multiset on skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // key 0 is hot: 5000 rows; keys 1..9 get ~100 each
    val big = ((1 to 5000).map(i => (0L, rnd.nextInt(1000))) ++
               (1 to 1000).map(i => ((i % 9 + 1).toLong, rnd.nextInt(1000))))
      .toDF("k", "payload")
    val small = (0L to 9L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k"))
    val salted = graft.operators.Skew.saltedJoin(big, small, "k", salts = 8)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "payload", "name").collect()
        .map(_.mkString("|")).sorted.toSeq
    assert(canon(salted) == canon(plain))
    assert(salted.count() == 6000)
  }
}
