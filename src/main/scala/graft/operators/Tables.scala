package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the query surface. */
object Tables {

  /** Per-session logical-plan cache for testdata tables: every
    * `spark.read.parquet` re-lists files and re-reads footers (~50-150 ms
    * of driver time), and the Bench/Verify protocol rebuilds each query's
    * DataFrame per rep — across a 159-query suite that listing cost alone
    * is tens of seconds. A DataFrame is an immutable logical plan, so
    * reusing one per (session, dir, table) is safe. Keyed by the
    * session's UUID with bounded LRU eviction (r11): the earlier
    * WeakHashMap keyed on the session, but its VALUES (DataFrames)
    * strongly reference the session via `queryExecution.sparkSession`, so
    * entries were never collectable — a stopped session's plans leaked
    * for the JVM's lifetime, one per session ever created. Weak-keying
    * cannot work when the value pins the key, so the fix is a BOUNDED
    * LRU: at most [[MaxCachedSessions]] sessions are retained (harness
    * JVMs hold a handful; suites that churn sessions evict the oldest
    * and just re-resolve). Keyed by identity hash with an `eq` check on
    * the stored session, so a recycled hash after GC can never serve a
    * dead session's plans. This mirrors what a real deployment gets from
    * a catalog: the table's FileIndex is resolved once, not per query. */
  private val MaxCachedSessions = 8
  private final case class SessionTables(
      session: SparkSession,
      tables: scala.collection.concurrent.TrieMap[(String, String), (Long, DataFrame)])
  private val tableCache =
    new java.util.LinkedHashMap[Integer, SessionTables](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Integer, SessionTables]): Boolean =
        size > MaxCachedSessions
    }

  /** Cheap content signature of a parquet table path: top-level mtime
    * combined with the directory listing's names, sizes and mtimes.
    * Directory mtime alone has 1 s granularity on some filesystems, so a
    * fixture rewritten within the same tick could be served a stale
    * FileIndex; folding in per-file (name, length, mtime) catches any
    * rewrite that changes a file name (Spark part-file names embed a
    * fresh UUID per write) or size. */
  private def tableSig(f: java.io.File): Long = {
    val children = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
    children.foldLeft(f.lastModified() ^ children.length.toLong) { (acc, c) =>
      acc * 1000003L + c.getName.hashCode.toLong + c.length() + c.lastModified()
    }
  }

  /** Load one driver testdata table (TESTDATA.md). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = tableCache.synchronized {
      val key = Integer.valueOf(System.identityHashCode(spark))
      val hit = tableCache.get(key)
      if (hit != null && (hit.session eq spark)) hit.tables
      else {
        val fresh = SessionTables(spark,
          scala.collection.concurrent.TrieMap.empty)
        tableCache.put(key, fresh)
        fresh.tables
      }
    }
    val path = s"$dir/$name.parquet"
    val sig = tableSig(new java.io.File(path))
    perSession.get((dir, name)) match {
      case Some((s, df)) if s == sig => df
      case _ =>
        val df = spark.read.parquet(path)
        perSession.put((dir, name), (sig, df))
        df
    }
  }

  /** The session conf required to read the events table's TIMESTAMP(NANOS)
    * column; must be enabled at session construction (see [[events]]). */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /**
   * Load the events table, normalizing `ts` to Spark `TimestampType`
   * (micros, session-tz-adjusted) whatever the corpus' physical type:
   *
   *  - parquet TIMESTAMP(NANOS): Spark 4 refuses it outright
   *    (PARQUET_TYPE_ILLEGAL) — even when `ts` is pruned away, because
   *    footer schema conversion happens first. With [[NanosConf]] set at
   *    session construction it arrives as a long (nanos since epoch),
   *    truncated here to micros — bit-identical to how DuckDB (µs-native)
   *    reads the same file, keeping values oracle-comparable.
   *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) (the current
   *    driver corpus): Spark infers TIMESTAMP_NTZ; cast to TimestampType
   *    under the UTC session timezone every entry point sets — the same
   *    wall-clock values DuckDB reads natively.
   *  - already TimestampType: pass through.
   *
   * The nanos conf is deliberately NOT set here: a table loader mutating
   * session state would silently switch every later nanos read in the
   * session to the legacy path; entry points owning a session
   * (`Sessions.harness`, TestSpark) enable it at construction instead.
   */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw =
      try t(spark, dir, "events")
      catch { case e: Throwable if String.valueOf(e.getMessage).contains("Illegal Parquet type") =>
        throw new IllegalStateException(
          s"events table read failed — a TIMESTAMP(NANOS) ts column needs " +
          s"$NanosConf=true at session construction", e)
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other => throw new IllegalStateException(
        s"events.ts has unexpected physical type $other — expected " +
        "LONG (nanos), TIMESTAMP, or TIMESTAMP_NTZ; refusing to cast blindly")
    }
  }

  /**
   * Exact-money arithmetic bridge for the DuckDB oracle: the testdata money
   * columns are 2-decimal doubles; summing doubles is order-dependent, so a
   * Spark sum and a DuckDB sum can differ in the last ulp and break the
   * driver's hash compare. Casting to decimal first makes every sum exact
   * and order-independent in BOTH engines; the final cast back to double is
   * then deterministic. Oracle side uses the same
   * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)` shape.
   */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact sum of a 2-decimal money column, returned as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /**
   * Cross-engine 60-bit hash: the first 15 hex digits of md5, as a
   * non-negative BIGINT. md5 is bit-identical everywhere, so this is the
   * one hash primitive whose value a DuckDB oracle can reproduce exactly
   * (`CAST(('0x' || substring(md5(x), 1, 15)) AS BIGINT)`), unlike
   * Spark's xxhash64/Murmur3 vs DuckDB's own `hash()`. Used as the seed
   * hash for shingles, minhash, simhash and fingerprints.
   */
  def md5Long(c: Column): Column =
    graft.functions.Md5Long60.md5Long60(c)

  /** The pre-r10 composed form, kept as the differential oracle for the
    * native expression (Md5LongSpec proves them bit-identical). */
  private[graft] def md5LongComposed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Scala-side twin of [[md5Long]] for imperative (mapPartitions) paths. */
  def md5LongOf(bytes: Array[Byte]): Long = graft.functions.Md5Long60.hash(bytes)
}
