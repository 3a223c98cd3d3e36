package graft.mr

/**
 * The user-defined-function surface of the engine: a MapReduce "app".
 *
 * Mirrors the reference's `App` trait (`common/src/lib.rs:5-8`):
 * {{{
 *   fn map(&self, k1: String, v1: String) -> Vec<(String, String)>;
 *   fn reduce(&self, k2: String, v2s: Vec<String>) -> String;
 * }}}
 *
 * Semantics contract (see SURVEY.md §1):
 *  - `map` is a UDTF: one input record (in the reference, one whole file:
 *    key = path, value = contents) produces zero or more KV pairs.
 *  - `reduce` is a *holistic* UDAF: it receives the complete value list for
 *    a key, **sorted by UTF-8 bytes** (Unicode code-point order; the
 *    reference sorts the full `(k, v)` pair list of Rust `String`s before
 *    grouping — `sequential/src/main.rs:30`,
 *    `worker.rs:174` — so value order within a key is a load-bearing,
 *    observable guarantee; the bundled indexer app depends on it).
 *  - Keys must not contain whitespace if the line-text sink is used
 *    (the reference's intermediate format is `"{k} {v}\n"` re-parsed by
 *    `split_whitespace` — `worker.rs:43-47,156-162`).
 */
trait MrApp extends Serializable {
  /** Registry name, mirroring the reference's dylib name (`-a app_wc`). */
  def name: String

  /** UDTF: one input record to N intermediate KV pairs. */
  def map(key: String, value: String): Seq[(String, String)]

  /** Holistic UDAF: the complete value list, sorted by UTF-8 bytes. */
  def reduce(key: String, values: Seq[String]): String
}

/**
 * App registry — the Spark-native twin of the reference's runtime dylib
 * loader (`common/src/lib.rs:22-39`, `declare_app!` macro `:12-20`).
 * Three resolution tiers, first hit wins:
 *
 *  1. runtime registrations ([[MrApps.register]] — tests, embedding code);
 *  2. classpath DISCOVERY via `java.util.ServiceLoader`: any jar carrying
 *     a `META-INF/services/graft.mr.MrApp` entry contributes its apps by
 *     name with no compile-time registration — the faithful analogue of
 *     the reference's `load_app(name)` dlopen: on a cluster,
 *     `spark-submit --jars app.jar` is `worker -a app_name`'s "drop a
 *     dylib next to the binary" (the service file plays `declare_app!`,
 *     exporting the well-known entry point);
 *  3. the built-in apps compiled into the engine jar.
 */
object MrApps {
  private val builtin: Map[String, MrApp] = Seq(
    graft.mr.apps.WordCountApp,
    graft.mr.apps.InvertedIndexApp,
    graft.mr.apps.SortedConcatApp
  ).map(a => a.name -> a).toMap

  /** Classpath-provided apps, resolved once on first use (the reference
    * dlopens lazily per run — `common/src/lib.rs:32` — but re-scanning
    * the classpath per load would buy nothing: jars don't change inside
    * a JVM). Context classloader first so `--jars` additions are seen. */
  private lazy val discovered: Map[String, MrApp] = {
    import scala.jdk.CollectionConverters._
    val cl = Option(Thread.currentThread().getContextClassLoader)
      .getOrElse(classOf[MrApp].getClassLoader)
    java.util.ServiceLoader.load(classOf[MrApp], cl)
      .iterator().asScala.map(a => a.name -> a).toMap
  }

  @volatile private var extra: Map[String, MrApp] = Map.empty

  /** Register an app at runtime (tests, user extensions). */
  def register(app: MrApp): Unit = synchronized { extra += app.name -> app }

  def load(name: String): MrApp =
    extra.getOrElse(name, discovered.getOrElse(name, builtin.getOrElse(name,
      throw new NoSuchElementException(
        s"unknown MR app '$name'; known: ${names.mkString(", ")}"))))

  def names: Seq[String] =
    (builtin.keySet ++ discovered.keySet ++ extra.keySet).toSeq.sorted
}
