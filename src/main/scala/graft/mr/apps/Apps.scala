package graft.mr.apps

import graft.mr.{MrApp, MrJob}

/**
 * Word count — port of the reference's `app-wc` (`app-wc/src/lib.rs:8-18`):
 * split on non-alphabetic characters, drop empties, emit `(word, "1")`;
 * reduce = number of values (content ignored).
 */
object WordCountApp extends MrApp {
  val name = "wc"

  def map(key: String, value: String): Seq[(String, String)] =
    value.split("[^a-zA-Z]+").iterator
      .filter(_.nonEmpty)
      .map(w => (w, "1"))
      .toSeq

  def reduce(key: String, values: Seq[String]): String =
    values.length.toString
}

/**
 * Inverted index — port of `app-indexer` (`app-indexer/src/lib.rs:10-25`):
 * map dedups words within one document (HashMap `or_insert`) and emits
 * `(word, docId)`; reduce emits `"{count} {docs.join(",")}"`. The doc list
 * is sorted *only because the engine sorts values before reduce*
 * (SURVEY.md §1.4) — this app is the reason that guarantee is load-bearing.
 */
object InvertedIndexApp extends MrApp {
  val name = "indexer"

  def map(key: String, value: String): Seq[(String, String)] =
    value.split("[^a-zA-Z]+").iterator
      .filter(_.nonEmpty)
      .distinct // first-occurrence dedup within the document
      .map(w => (w, key))
      .toSeq

  def reduce(key: String, values: Seq[String]): String =
    s"${values.length} ${values.mkString(",")}"
}

/**
 * Sorted value concatenation — the *query* computed by the reference's crash
 * app (`app-crash/src/lib.rs:29-45`, minus the fault injection, which on
 * Spark is the scheduler's job, not an app's): reduce sorts its values and
 * space-joins them. Values arrive pre-sorted from the engine; the app's
 * defensive re-sort (`app-crash/src/lib.rs:41-42`) is kept for fidelity.
 */
object SortedConcatApp extends MrApp {
  val name = "sorted_concat"

  def map(key: String, value: String): Seq[(String, String)] = Seq(
    ("a", key.split('/').last),
    ("b", key.split('/').last.length.toString),
    ("c", value.length.toString),
    ("d", "xyzzy")
  )

  def reduce(key: String, values: Seq[String]): String =
    values.sorted(MrJob.Utf8Order).mkString(" ")
}
