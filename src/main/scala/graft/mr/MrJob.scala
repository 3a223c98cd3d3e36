package graft.mr

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The engine core: the reference's single physical pipeline
 * (map -> hash partition -> sort -> group -> reduce -> commit), re-expressed
 * as a declarative Spark plan (SURVEY.md §2.1 E1-E9, §3).
 *
 * Stage mapping (reference cite -> Spark primitive):
 *  - E1 whole-file scan (`sequential/src/main.rs:22-28`, `worker.rs:112-117`)
 *      -> `spark.read.option("wholetext", true).text(paths)` + `input_file_name()`
 *  - E2 flat-map UDTF (`main.rs:24-29`, `worker.rs:119`)
 *      -> `Dataset.flatMap(app.map)`
 *  - E3 hash shuffle by key to nReduce partitions (`worker.rs:121-135`)
 *      -> `repartition(nReduce, $"key")` (Murmur3 HashPartitioning; the
 *         reference uses SipHash — key->partition mapping is opaque in both,
 *         only per-job consistency is observable, SURVEY.md §1.5)
 *  - E5+E6 sort then consecutive-run group (`main.rs:30-38`, `worker.rs:174-181`)
 *      -> `groupBy($"key").agg(sort_array(collect_list($"value")))`; the
 *         `sort_array` reproduces the load-bearing value-order guarantee
 *         (SURVEY.md §1.4) that a bare `collect_list` would break (shuffle
 *         arrival order is nondeterministic).
 *  - E7 holistic reduce (`main.rs:38`, `worker.rs:181`) -> the native
 *      [[graft.functions.HolisticReduce]] TypedImperativeAggregate (or the
 *      builtins-only `sort_array(collect_list)` + UDF twin,
 *      [[MrJob.runDeclarative]]). The reference has no combiner (every map
 *      output pair crosses the shuffle, `app-wc/src/lib.rs:12`); we keep the
 *      same holistic contract for generality, and ship DataFrame-native
 *      "twins" of the bundled apps for the decomposable cases
 *      (graft.operators).
 *  - E8 atomic text sink (`worker.rs:178-190`) -> `df.write.text` under
 *      Spark's FileOutputCommitter (temp + rename protocol, same
 *      exactly-once-visibility guarantee).
 *  - E10 scheduling/fault tolerance (`coordinator.rs`) is inherited from
 *      Spark's DAGScheduler/OutputCommitCoordinator — nothing to build.
 *
 * Scale notes (100 TB target): the shuffle is a single hash exchange on the
 * intermediate key — exactly one wide dependency, same as the reference.
 * `collect_list` makes per-key memory O(values-per-key), which is the
 * reference's own behavior (`worker.rs:150-176` materializes everything);
 * for skewed keys prefer the decomposable DataFrame twins, which Spark
 * partial-aggregates map-side.
 */
object MrJob {

  /** One intermediate/output record. Typed `Dataset[KV]` keeps the engine on
    * Tungsten encoders end-to-end. */
  case class KV(key: String, value: String)

  /** Strings in UTF-8 byte order, which is Unicode code-point order: the
    * order of Rust's `String` and of Spark's string comparison. Scala's
    * default `String` order compares UTF-16 code units instead, which puts
    * supplementary characters (surrogate pairs) before U+E000..U+FFFF. */
  val Utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x != y) return codePointRank(x) - codePointRank(y)
        i += 1
      }
      a.length - b.length
    }
    // lifts surrogates (D800..DFFF) above E000..FFFF, so the first differing
    // code unit decides in code-point order
    private def codePointRank(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
  }

  /** `(key, value)` pairs in [[Utf8Order]], key first: the reference's sort. */
  val PairOrder: Ordering[(String, String)] = Ordering.Tuple2(Utf8Order, Utf8Order)

  /** Default reduce-partition count, mirroring the reference's `-r 10`
    * (`coordinator.rs:31-32`, `Makefile:17`). */
  val DefaultNumReduce = 10

  // ---------------------------------------------------------------- sources

  /**
   * E1: whole-file scan — each input file becomes exactly one
   * `(path, contents)` record, like `read_to_string` per `MapTask` file
   * (`worker.rs:112-117`; one file per map task, `coordinator.rs:55-64`).
   */
  def wholeFileInput(spark: SparkSession, paths: Seq[String]): Dataset[KV] = {
    import spark.implicits._
    spark.read
      .option("wholetext", "true")
      .text(paths: _*)
      .select(input_file_name().as("key"), col("value"))
      .as[KV]
  }

  /** Adapt any two-column DataFrame (key, value) into engine input — used to
    * run MR apps over the driver's parquet tables. */
  def tableInput(df: DataFrame, keyCol: String, valueCol: String): Dataset[KV] = {
    import df.sparkSession.implicits._
    df.select(col(keyCol).cast("string").as("key"), col(valueCol).cast("string").as("value")).as[KV]
  }

  // ------------------------------------------------------------------- run

  /**
   * Execute `app` over `input`, returning the final `(key, value)` table,
   * globally sorted by key — the observable equivalent of the reference's
   * merged `sort mr-out* | grep .` output (`Makefile:33-34`).
   *
   * The reduce stage (E5-E7) runs as the native
   * [[graft.functions.HolisticReduce]] aggregate: one typed imperative
   * aggregate that collects values as UTF-8 bytes, sorts once per group at
   * eval (§1.4's guarantee), and applies the app's reduce — no
   * intermediate array column and no UDF conversion boundary. The key
   * shuffle below already clusters every key, so the partial and final
   * aggregates run back to back in the same task and no partial buffer
   * crosses a shuffle. [[runDeclarative]] is the builtins-only formulation
   * of the same semantics; MrEngineSpec holds them differentially equal.
   */
  def run(input: Dataset[KV], app: MrApp, nReduce: Int = DefaultNumReduce): Dataset[KV] = {
    val spark = input.sparkSession
    import spark.implicits._

    // E3: hash shuffle into exactly nReduce partitions on the key; then
    // E5+E6+E7 fused into the native holistic-reduce aggregate.
    mapStage(input, app)
      .repartition(nReduce, $"key")
      .groupBy($"key")
      .agg(graft.functions.HolisticReduce(app.reduce _)($"key", $"value").as("value"))
      .orderBy($"key") // E9: global merge-sort of partition outputs
      .as[KV]
  }

  /**
   * The declarative twin of [[run]]'s reduce stage, from builtins only:
   * `sort_array(collect_list(value))` (E5+E6, the §1.4 value-order
   * guarantee a bare collect_list would break — shuffle arrival order is
   * nondeterministic) + a scalar reduce UDF (E7). Semantically identical
   * to the native aggregate; kept as the cross-check and as the
   * formulation that needs zero custom Catalyst code.
   */
  def runDeclarative(input: Dataset[KV], app: MrApp,
                     nReduce: Int = DefaultNumReduce): Dataset[KV] = {
    val spark = input.sparkSession
    import spark.implicits._
    val reduceUdf = udf((k: String, vs: Seq[String]) => app.reduce(k, vs))
    mapStage(input, app)
      .repartition(nReduce, $"key")
      .groupBy($"key")
      .agg(sort_array(collect_list($"value")).as("values"))
      .select($"key", reduceUdf($"key", $"values").as("value"))
      .orderBy($"key")
      .as[KV]
  }

  /** E2: UDTF flat-map. Dataset.flatMap keeps the app's Scala signature
    * verbatim (`fn map(k, v) -> Vec<(k, v)>`, common/src/lib.rs:6). */
  private def mapStage(input: Dataset[KV], app: MrApp): Dataset[KV] = {
    import input.sparkSession.implicits._
    input.flatMap(r => app.map(r.key, r.value).map { case (k, v) => KV(k, v) })
  }

  /**
   * The RDD-primitive formulation of the same pipeline — MapReduce is
   * directly translatable to Spark's original RDD transformations, and
   * this is that translation, stage for stage:
   * `flatMap` (E2) → `repartitionAndSortWithinPartitions` with a
   * `HashPartitioner(nReduce)` (E3 hash shuffle + E5 sort, in ONE
   * primitive — the shuffle writes sorted runs and the reducer merges
   * them, which is the closest Spark gets to classic MapReduce's
   * sort-based shuffle) → per-partition consecutive-run grouping (E6, the
   * `itertools::group_by` twin — valid because the partitioner clusters
   * each key into one partition and the sort makes runs contiguous) →
   * `app.reduce` (E7). Output collected per partition ≙ `mr-out-<j>`.
   *
   * The Dataset path ([[run]]) is the production engine — Tungsten
   * encoders, codegen, AQE; this twin exists because the mapping is the
   * point: it proves the reference's exact execution strategy (partition,
   * sort, run-group) expresses in Spark primitives with identical
   * results (MrEngineSpec holds all three paths equal).
   */
  def runRdd(input: Dataset[KV], app: MrApp, nReduce: Int = DefaultNumReduce): Dataset[KV] = {
    val spark = input.sparkSession
    import spark.implicits._
    implicit val sortOrder: Ordering[(String, String)] = PairOrder
    val sorted = input.rdd
      .flatMap(r => app.map(r.key, r.value))                       // E2
      .map(kv => (kv, ()))                                         // sort on (k, v): §1.4
      .repartitionAndSortWithinPartitions(                         // E3 + E5
        new org.apache.spark.HashPartitioner(nReduce) {
          override def getPartition(key: Any): Int =
            super.getPartition(key.asInstanceOf[(String, String)]._1)
        })
    val reduced = sorted.mapPartitions { it =>                     // E6 + E7
      new Iterator[KV] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): KV = {
          val k = buf.head._1._1
          val vs = scala.collection.mutable.ArrayBuffer.empty[String]
          while (buf.hasNext && buf.head._1._1 == k) { vs += buf.next()._1._2 }
          KV(k, app.reduce(k, vs.toSeq))
        }
      }
    }
    spark.createDataset(reduced).orderBy($"key")                   // E9
  }

  /** Convenience: load the app by name (E11) and run over whole files. */
  def runFiles(spark: SparkSession, appName: String, inputPaths: Seq[String],
               nReduce: Int = DefaultNumReduce): Dataset[KV] =
    run(wholeFileInput(spark, inputPaths), MrApps.load(appName), nReduce)

  // ------------------------------------------------------------------ sink

  /**
   * E8: line-text sink, `"{k} {v}"` per row (`worker.rs:180-183`). Spark's
   * FileOutputCommitter supplies the temp-write + atomic-rename protocol the
   * reference hand-rolls (`worker.rs:185-189`): output is never visible
   * partially. One `part-*` file per partition ≙ `mr-out-<j>`.
   */
  def writeText(result: Dataset[KV], outDir: String): Unit =
    result
      .select(concat_ws(" ", col("key"), col("value")).as("value"))
      .write
      .mode("overwrite")
      .text(outDir)

  /** Read back a text-sink directory as the merged, normalized output the
    * reference tests compare (`sort mr-out* | grep .`, test-mr.sh:51). */
  def readText(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    spark.read.text(dir)
      .select(col("value").as[String])
      .filter(length(col("value")) > 0)
      .orderBy("value")
      .as[String]
  }

  // ---------------------------------------------------------------- oracle

  /**
   * The sequential executor — a direct 15-line port of the reference's
   * semantic oracle (`sequential/src/main.rs:22-40`): eager flat-map, full
   * (k, v) pair sort by UTF-8 bytes, consecutive-run grouping, reduce. Used
   * by the test suite to differentially validate the Spark plan, exactly as
   * `test-mr.sh:29-31,52` diffs distributed output against the sequential
   * binary.
   */
  def runSequential(app: MrApp, input: Seq[(String, String)]): Seq[(String, String)] = {
    val intermediate = input
      .flatMap { case (k, v) => app.map(k, v) }
      .sorted(PairOrder) // Rust `Vec<(String, String)>::sort()`: (k, v) by UTF-8 bytes
    // itertools::group_by on the sorted run (main.rs:33-38)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    while (i < intermediate.length) {
      val k = intermediate(i)._1
      var j = i
      val vs = scala.collection.mutable.ArrayBuffer.empty[String]
      while (j < intermediate.length && intermediate(j)._1 == k) {
        vs += intermediate(j)._2; j += 1
      }
      out += ((k, app.reduce(k, vs.toSeq)))
      i = j
    }
    out.toSeq
  }
}
