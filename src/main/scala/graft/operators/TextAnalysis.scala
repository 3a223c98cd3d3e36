package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/**
 * Text-analysis operators for a training-data pipeline [EXT]: token
 * statistics, quality scoring, language-ID heuristics, and document
 * fingerprinting over the `documents` table.
 *
 * Everything is built from codegen'd builtins and higher-order array
 * functions — no UDFs — so at 100 TB these are embarrassingly parallel
 * single-pass scans (no shuffle at all except where grouped).
 * Ratios divide exact integer counts, so a DuckDB oracle reproduces every
 * double bit-for-bit.
 */
object TextAnalysis {

  /** Whitespace tokenizer — the native byte-scan expression, bit-identical
    * to `split(c, "\\s+")` (TextFunctionsSpec). NOTE: like DuckDB's
    * `string_split_regex`, Java split semantics (limit -1) keep the
    * zero-length token produced by LEADING whitespace, so word counts on
    * padded text run one high vs Gopher's strict semantics — a deliberate
    * deviation kept IDENTICAL in both engines (the oracle tokenizes the
    * same way) so every gated count/ratio stays bit-for-bit comparable. */
  private def toks(c: Column): Column = graft.functions.TextFunctions.wsTokens(c)

  /** Token counting: whitespace tokens, distinct tokens, a BPE-ish regex
    * token count (letter runs / digit runs / single other chars), and mean
    * token length. */
  def textTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), toks(col("text")).as("ts"), col("text"))
      .select(
        col("doc_id"), col("lang"),
        length(col("text")).as("n_chars"),
        size(col("ts")).as("n_tokens"),
        size(array_distinct(col("ts"))).as("n_distinct"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).as("n_bpe_ish"),
        (aggregate(transform(col("ts"), x => length(x)), lit(0), (acc, x) => acc + x)
          .cast("double") / size(col("ts"))).as("mean_token_len"))

  val textTokensSql: String =
    """SELECT doc_id, lang,
      |  CAST(length(text) AS INT) AS n_chars,
      |  CAST(len(string_split_regex(text, '\s+')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS INT) AS n_distinct,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS INT) AS n_bpe_ish,
      |  CAST(list_aggregate(list_transform(string_split_regex(text, '\s+'), x -> length(x)), 'sum') AS DOUBLE)
      |    / len(string_split_regex(text, '\s+')) AS mean_token_len
      |FROM documents""".stripMargin

  /** Quality scoring from exact integer counts: stopword ratio, alpha
    * ratio, length band — the length/punct/stopword heuristics used to
    * filter web corpora. */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"), toks(col("text")).as("ts"))
      .select(
        col("doc_id"),
        size(col("ts")).as("n_tokens"),
        size(filter(col("ts"), x => x.isin(stop: _*))).as("n_stop"),
        aggregate(transform(col("ts"), x => length(x)), lit(0), (acc, x) => acc + x).as("alpha_chars"),
        length(col("text")).as("n_chars"))
    d.select(
      col("doc_id"), col("n_tokens"), col("n_stop"),
      (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
      (col("alpha_chars").cast("double") / col("n_chars")).as("alpha_ratio"),
      when(col("n_tokens").between(20, 400) && col("n_stop") > 0, "keep")
        .otherwise("drop").as("quality_flag"))
  }

  val textQualitySql: String =
    """WITH d AS (
      |  SELECT doc_id, text, string_split_regex(text, '\s+') AS ts FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    len(ts) AS n_tokens,
      |    len(list_filter(ts, x -> x IN ('the','a','of','and','to','in','is'))) AS n_stop,
      |    list_aggregate(list_transform(ts, x -> length(x)), 'sum') AS alpha_chars,
      |    length(text) AS n_chars
      |  FROM d)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, CAST(n_stop AS INT) AS n_stop,
      |  CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |  CAST(alpha_chars AS DOUBLE) / n_chars AS alpha_ratio,
      |  CASE WHEN n_tokens BETWEEN 20 AND 400 AND n_stop > 0
      |       THEN 'keep' ELSE 'drop' END AS quality_flag
      |FROM c""".stripMargin

  /** Language-ID heuristic: stopword-list hit counts per candidate
    * language, argmax with a fixed tie order. (The testdata's text is
    * synthetic, so the point is the operator shape — a broadcastable
    * token-set membership scan — not linguistic accuracy.) */
  def textLangid(spark: SparkSession, dir: String): DataFrame = {
    val lists = Seq(
      "en" -> Seq("the", "a", "of", "and", "is"),
      "es" -> Seq("el", "la", "de", "y", "que"),
      "de" -> Seq("der", "die", "und", "das", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "des"))
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), toks(col("text")).as("ts"))
    val withHits = lists.foldLeft(d) { case (df, (code, words)) =>
      df.withColumn(s"hits_$code", size(filter(col("ts"), x => x.isin(words: _*))))
    }
    withHits.select(
      col("doc_id"), col("lang").as("labeled_lang"),
      col("hits_en"), col("hits_es"), col("hits_de"), col("hits_fr"),
      when(col("hits_en") >= col("hits_es") && col("hits_en") >= col("hits_de") &&
           col("hits_en") >= col("hits_fr") && col("hits_en") > 0, "en")
        .when(col("hits_es") >= col("hits_de") && col("hits_es") >= col("hits_fr") &&
              col("hits_es") > 0, "es")
        .when(col("hits_de") >= col("hits_fr") && col("hits_de") > 0, "de")
        .when(col("hits_fr") > 0, "fr")
        .otherwise("und").as("guessed_lang"))
  }

  val textLangidSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, string_split_regex(text, '\s+') AS ts FROM documents),
      |h AS (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(ts, x -> x IN ('the','a','of','and','is'))) AS INT) AS hits_en,
      |    CAST(len(list_filter(ts, x -> x IN ('el','la','de','y','que'))) AS INT) AS hits_es,
      |    CAST(len(list_filter(ts, x -> x IN ('der','die','und','das','ist'))) AS INT) AS hits_de,
      |    CAST(len(list_filter(ts, x -> x IN ('le','la','et','les','des'))) AS INT) AS hits_fr
      |  FROM d)
      |SELECT doc_id, lang AS labeled_lang, hits_en, hits_es, hits_de, hits_fr,
      |  CASE WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr AND hits_en > 0 THEN 'en'
      |       WHEN hits_es >= hits_de AND hits_es >= hits_fr AND hits_es > 0 THEN 'es'
      |       WHEN hits_de >= hits_fr AND hits_de > 0 THEN 'de'
      |       WHEN hits_fr > 0 THEN 'fr'
      |       ELSE 'und' END AS guessed_lang
      |FROM h""".stripMargin

  /** TF-IDF top-3 terms per document. Scale shape: term frequencies are
    * one hash aggregate over the exploded tokens; document frequencies are
    * derived FROM the tf table (tf rows are already distinct (doc, tok)
    * pairs) instead of `tok.distinct()` — that distinct re-shuffled every
    * raw token occurrence, where the tf path partial-aggregates map-side
    * first (measured ~20% off the query at sf0.1). Column pruning drops
    * tf's count in the df branch, so the two tf subtrees stay physically
    * different and the scan still runs twice; forcing them identical with
    * a tautological tf>=1 filter produced no measurable win (the second
    * scan is cheap next to the shuffles), so the clean form stays.
    * The df join side is vocabulary-sized and broadcast;
    * the per-doc top-k is a window over the doc partition. Scores are
    * rounded to 9 decimals before ranking/output — `ln` is
    * correctly-rounded-ish (≤1 ulp) in both engines but not guaranteed
    * identical, and the rounding plus a (score, token) tiebreak makes the
    * result engine-portable. */
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc term frequencies IN-ROW (native ItemCounts): the explode →
    // groupBy(doc_id, tok) formulation paid a corpus-sized shuffle with
    // near-unique keys (map-side combine can't help a per-doc key) just
    // to count within documents
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.itemCounts(toks(col("text"))))
          .as("e"))
      .select(col("doc_id"), col("e.item").as("tok"), col("e.n").as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = t(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 9))
    // r17 examined and DECLINED the window_topk bounded-heap rewrite
    // (TopKByCount over exact nano-scores, hash-identical at sf0.01):
    // interleaved at sf1 it measured 1.92 vs 1.71 s — each doc's tf
    // domain is its ~30-token distinct vocabulary, so the per-doc window
    // sort is already tiny and the typed-imperative heap pays more in
    // per-row object/tag overhead than the 3-rows-per-doc shuffle saves.
    // The heap wins when per-group domains are large (window_topk's
    // customer histories); re-visit only if the corpus gains a real
    // vocabulary.
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"), col("score"))
  }

  val textTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, tf.tok, tf, df,
      |         round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 9) AS score
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, tok, tf, df, score,
      |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC) AS rnk
      |  FROM scored)
      |SELECT doc_id, CAST(rnk AS INT) AS rnk, tok, tf, df, score
      |FROM ranked WHERE rnk <= 3""".stripMargin

  // ------------------------------------------------------------------ PII

  /** Java-regex / RE2 common-subset patterns (no lookaround, no backrefs —
    * identical semantics in Spark's java.util.regex and DuckDB's RE2). */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+[0-9][0-9() -]{6,}[0-9]"

  /**
   * PII scrubbing [EXT]: count and redact email / phone patterns. The
   * synthetic corpus contains no natural PII, so the query grafts
   * deterministic synthetic contact strings onto a slice of documents
   * first (doc_id-derived, so the oracle builds the identical input) —
   * the redaction plumbing (codegen'd regexp_extract_all/regexp_replace,
   * one pass, no shuffle) is the real, scale-relevant part, exactly like
   * the multimodal stub codec.
   *
   * At 100 TB this is an embarrassingly parallel scan; the regexes are
   * deliberately in the Java/RE2 common subset so the operator is portable
   * across engines (and the oracle can replay it).
   */
  def textPiiRedact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
                   lit("@example.com asap"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call +1 555-01"),
                   lpad((col("doc_id") % 100).cast("string"), 2, "0"),
                   lit(" now"))).otherwise(lit(""))).as("raw"))
      .select(col("doc_id"), col("lang"),
        // Column-API regexp functions take the Java pattern verbatim — an
        // expr()/SQL literal would re-process the backslash escapes.
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("raw"), EmailRe, "<EMAIL>"),
                           PhoneRe, "<PHONE>")).as("redacted_md5"),
        (length(col("raw")) -
         length(regexp_replace(regexp_replace(col("raw"), EmailRe, ""),
                               PhoneRe, ""))).as("n_pii_chars"))

  val textPiiRedactSql: String =
    s"""WITH raw AS (
       |  SELECT doc_id, lang,
       |    text
       |      || CASE WHEN doc_id % 5 = 0
       |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com asap'
       |              ELSE '' END
       |      || CASE WHEN doc_id % 7 = 0
       |              THEN ' call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' now'
       |              ELSE '' END AS raw
       |  FROM documents)
       |SELECT doc_id, lang,
       |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS INT) AS n_phones,
       |  md5(regexp_replace(regexp_replace(raw, '$EmailRe', '<EMAIL>', 'g'),
       |                     '$PhoneRe', '<PHONE>', 'g')) AS redacted_md5,
       |  CAST(length(raw)
       |    - length(regexp_replace(regexp_replace(raw, '$EmailRe', '', 'g'),
       |                            '$PhoneRe', '', 'g')) AS INT) AS n_pii_chars
       |FROM raw""".stripMargin

  // ----------------------------------------------------------- repetition

  /**
   * Repetition-based quality metrics [EXT] (the Gopher-rule family):
   * duplicate-token fraction and duplicate-2-gram fraction from array
   * arithmetic (zero shuffle), plus the most-frequent token and its mass
   * fraction via one exploded aggregate + a per-doc argmax window.
   * All ratios divide exact integer counts — bit-identical in the oracle.
   */
  def textRepetition(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id"), col("ts"),
        expr("transform(slice(ts, 1, size(ts) - 1), (x, i) -> concat_ws(' ', x, ts[i + 1]))")
          .as("g2"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        size(array_distinct(col("ts"))).as("n_distinct"),
        size(col("g2")).as("n_2grams"),
        size(array_distinct(col("g2"))).as("n_distinct_2grams"))
    // per-doc argmax token IN-ROW: fold the native ItemCounts array with
    // the same (c DESC, tok ASC) total order the rank window used — zero
    // shuffles and no per-doc window sort. The fold lambda is an
    // interpreted HOF, but over the per-document DISTINCT-token array,
    // not the corpus.
    val top = t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.itemCounts(toks(col("text"))).as("cs"))
      .filter(size(col("cs")) > 0) // ≙ the old inner join dropping token-less docs
      .select(col("doc_id"),
        aggregate(col("cs"),
          struct(lit(null).cast("string").as("item"), lit(0L).as("n")),
          (acc, e) => when(
            e.getField("n") > acc.getField("n") ||
              (e.getField("n") === acc.getField("n") &&
               e.getField("item") < acc.getField("item")), e).otherwise(acc))
          .as("m"))
      .select(col("doc_id"), col("m.item").as("top_tok"), col("m.n").as("top_cnt"))
    base.join(top, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("top_tok"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        // single-token doc → 0 2-grams; pin 0/0 to 0.0 (Spark NULLs a
        // double division by zero where DuckDB yields NaN — engines
        // disagree exactly where the data is degenerate)
        when(col("n_2grams") === 0, lit(0.0))
          .otherwise((col("n_2grams") - col("n_distinct_2grams")).cast("double")
                       / col("n_2grams")).as("dup_2gram_frac"),
        (col("top_cnt").cast("double") / col("n_tokens")).as("top_tok_frac"),
        when((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens") > 0.9,
             "drop").otherwise("keep").as("rep_flag"))
  }

  val textRepetitionSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents),
      |base AS (
      |  SELECT doc_id,
      |    len(ts) AS n_tokens,
      |    len(list_distinct(ts)) AS n_distinct,
      |    len(ts) - 1 AS n_2grams,
      |    len(list_distinct(list_transform(list_slice(ts, 1, len(ts) - 1),
      |      (x, i) -> x || ' ' || ts[i + 1]))) AS n_distinct_2grams
      |  FROM d),
      |tok AS (
      |  SELECT doc_id, unnest(ts) AS tok FROM d),
      |cnt AS (
      |  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |top AS (
      |  SELECT doc_id, tok AS top_tok, c AS top_cnt FROM (
      |    SELECT doc_id, tok, c,
      |           row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok ASC) AS rnk
      |    FROM cnt)
      |  WHERE rnk = 1)
      |SELECT base.doc_id, CAST(n_tokens AS INT) AS n_tokens, top_tok,
      |  CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens AS dup_token_frac,
      |  CASE WHEN n_2grams = 0 THEN 0.0
      |       ELSE CAST(n_2grams - n_distinct_2grams AS DOUBLE) / n_2grams
      |  END AS dup_2gram_frac,
      |  CAST(top_cnt AS DOUBLE) / n_tokens AS top_tok_frac,
      |  CASE WHEN CAST(n_tokens - n_distinct AS DOUBLE) / n_tokens > 0.9
      |       THEN 'drop' ELSE 'keep' END AS rep_flag
      |FROM base JOIN top ON base.doc_id = top.doc_id""".stripMargin

  /** Position-weighted rolling fingerprint: Σ (md5hash(token) mod P) · pos
    * mod Q — one number per document, order-sensitive (unlike a bag-of-words
    * hash). Computed as a per-row array fold (indexed transform +
    * aggregate), so the whole operator is a single scan with NO shuffle —
    * integer arithmetic makes the fold order-insensitive anyway. */
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .select(col("doc_id"),
              (aggregate(
                 transform(col("ts"), (x, i) =>
                   (md5Long(x) % 1000003L) * (i.cast("long") + 1L)),
                 lit(0L), (acc, x) => acc + x) % 1000000007L).as("fingerprint"),
              size(col("ts")).cast("long").as("n_tokens"))

  val textFingerprintSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS ts FROM documents)
      |SELECT doc_id,
      |  CAST(list_sum(list_transform(ts, (tok, pos) ->
      |    (CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 1000003) * pos))
      |    % 1000000007 AS BIGINT) AS fingerprint,
      |  CAST(len(ts) AS BIGINT) AS n_tokens
      |FROM d""".stripMargin

  // -------------------------------------------------- classifier evaluation

  /**
   * Classifier evaluation harness [EXT]: per-class precision / recall /
   * F1 of the [[textLangid]] heuristic against the labeled `lang`
   * column — the eval loop every pipeline classifier (language-ID,
   * quality, toxicity) runs after training. All metrics are integer
   * per-mille derived from exact confusion counts; F1 uses the
   * tie-free integer form 2·tp·1000 div (2·tp + fp + fn), so no float
   * ever enters.
   *
   * Scale shape: the confusion matrix is ONE (labeled, guessed)-keyed
   * aggregate — at most |classes|² cells regardless of corpus size —
   * and every metric derives from those cells; the per-class rollup is
   * arithmetic over a broadcast-sized table. ('zh' has no stopword
   * list, so it evaluates as the honest failure mode: recall 0.)
   */
  def evalLangid(spark: SparkSession, dir: String): DataFrame = {
    val cells = textLangid(spark, dir)
      .groupBy(col("labeled_lang"), col("guessed_lang"))
      .agg(count(lit(1)).as("n"))
    val byLabel = cells.groupBy(col("labeled_lang"))
      .agg(sum(col("n")).as("n_docs"),
           sum(when(col("guessed_lang") === col("labeled_lang"), col("n"))
             .otherwise(0L)).as("tp"))
    val byGuess = cells.groupBy(col("guessed_lang"))
      .agg(sum(col("n")).as("n_guessed"))
    byLabel
      .join(byGuess, col("labeled_lang") === col("guessed_lang"), "left")
      .select(col("labeled_lang"), col("n_docs"), col("tp"),
              coalesce(col("n_guessed"), lit(0L)).as("n_guessed"))
      .withColumn("fp", col("n_guessed") - col("tp"))
      .withColumn("fn", col("n_docs") - col("tp"))
      .select(col("labeled_lang"), col("n_docs"), col("tp"), col("n_guessed"),
        when(col("n_guessed") > 0, expr("(tp * 1000) div n_guessed"))
          .otherwise(0L).as("precision_pm"),
        expr("(tp * 1000) div n_docs").as("recall_pm"),
        when(col("tp") > 0, expr("(2 * tp * 1000) div (2 * tp + fp + fn)"))
          .otherwise(0L).as("f1_pm"))
  }

  val evalLangidSql: String =
    s"""WITH pred AS ($textLangidSql),
       |cells AS (
       |  SELECT labeled_lang, guessed_lang, COUNT(*) AS n
       |  FROM pred GROUP BY 1, 2),
       |by_label AS (
       |  SELECT labeled_lang, SUM(n) AS n_docs,
       |         SUM(CASE WHEN guessed_lang = labeled_lang THEN n ELSE 0 END) AS tp
       |  FROM cells GROUP BY 1),
       |by_guess AS (
       |  SELECT guessed_lang, SUM(n) AS n_guessed FROM cells GROUP BY 1),
       |j AS (
       |  SELECT l.labeled_lang,
       |         CAST(l.n_docs AS BIGINT) AS n_docs,
       |         CAST(l.tp AS BIGINT) AS tp,
       |         CAST(coalesce(g.n_guessed, 0) AS BIGINT) AS n_guessed
       |  FROM by_label l LEFT JOIN by_guess g ON g.guessed_lang = l.labeled_lang)
       |SELECT labeled_lang, n_docs, tp, n_guessed,
       |  CASE WHEN n_guessed > 0 THEN (tp * 1000) // n_guessed ELSE 0 END AS precision_pm,
       |  (tp * 1000) // n_docs AS recall_pm,
       |  CASE WHEN tp > 0
       |       THEN (2 * tp * 1000) // (2 * tp + (n_guessed - tp) + (n_docs - tp))
       |       ELSE 0 END AS f1_pm
       |FROM j""".stripMargin

  // ----------------------------------------------------------- winnowing

  /** Winnowing parameters: k-gram width (words) and window size (grams).
    * Expected fingerprint density is 2/(w+1). */
  private val WinK = 3
  private val WinW = 4

  /**
   * Winnowing fingerprints [EXT] (Schleimer/Wilkerson/Aiken 2003 — the
   * MOSS algorithm): hash every [[WinK]]-gram, slide a [[WinW]]-window
   * over the hash sequence, and select each window's MINIMUM hash (ties
   * to the RIGHTMOST position, per the paper). The selected (hash, pos)
   * set is a position-robust local fingerprint: any shared substring of
   * ≥ w+k−1 tokens between two documents is GUARANTEED to contribute at
   * least one common selected hash — the partial-overlap detector that
   * whole-document fingerprints ([[textFingerprint]]) and fixed-stride
   * chunk hashes structurally miss.
   *
   * Dataflow: explode grams with positions (hashes only — 8 bytes each
   * past the scan), one doc-keyed sliding-frame window min (the
   * min-of-struct(hash, −pos) encodes the rightmost-tie rule), one
   * distinct, one doc-keyed roll-up. The window partitions by doc, so
   * no partition exceeds a document's gram count at any corpus scale.
   * CorpusOps3Spec proves the coverage guarantee and the ~2/(w+1)
   * density law.
   */
  /** The selected (doc, fingerprint-hash, position) set — the winnowing
    * output proper; [[textWinnowing]] is its per-doc roll-up, and the
    * overlap-detection spec joins two docs' sets directly. */
  private[operators] def winnowSelected(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= WinK)
      .select(col("doc_id"), size(col("ts")).as("n_tokens"),
        posexplode(graft.functions.TextFunctions.ngramsJoined(col("ts"), WinK))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("n_tokens"), col("pos"), md5Long(col("gram")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinW - 1)
    val selected = grams
      .withColumn("ng", max(col("pos")).over(Window.partitionBy(col("doc_id"))) + 1)
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(w))
      // a full window starts at every pos ≤ ng − w
      .filter(col("pos") <= col("ng") - WinW)
      .select(col("doc_id"), col("n_tokens"), col("ng"),
              col("sel.h").as("fh"), (-col("sel.np")).as("fpos"))
      .distinct()
    selected
  }

  def textWinnowing(spark: SparkSession, dir: String): DataFrame =
    winnowSelected(spark, dir).groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
           max(col("ng")).as("n_grams"),
           count(lit(1)).as("n_selected"),
           md5(array_join(transform(array_sort(collect_list(struct(col("fpos"), col("fh")))),
             s => concat_ws(":", s.getField("fpos"), s.getField("fh"))), ",")).as("fp_md5"))
      .select(col("doc_id"), col("n_tokens"), col("n_grams"), col("n_selected"),
        (col("n_selected").cast("double") / col("n_grams")).as("density"),
        col("fp_md5"))

  val textWinnowingSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents
       |  WHERE len(string_split_regex(text, '\\s+')) >= $WinK),
       |grams AS (
       |  SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens, CAST(i - 1 AS INT) AS pos,
       |         CAST(('0x' || substring(md5(array_to_string(ts[i : i + ${WinK - 1}], ' ')), 1, 15)) AS BIGINT) AS h
       |  FROM d, UNNEST(range(1, len(ts) - ${WinK - 2})) AS u(i)),
       |win AS (
       |  SELECT doc_id, n_tokens, pos,
       |         MAX(pos) OVER (PARTITION BY doc_id) + 1 AS ng,
       |         MIN({'h': h, 'np': -pos}) OVER
       |           (PARTITION BY doc_id ORDER BY pos
       |            ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS sel
       |  FROM grams),
       |selected AS (
       |  SELECT DISTINCT doc_id, n_tokens, ng, sel.h AS fh, -sel.np AS fpos
       |  FROM win WHERE pos <= ng - $WinW)
       |SELECT doc_id,
       |  MAX(n_tokens) AS n_tokens,
       |  CAST(MAX(ng) AS INT) AS n_grams,
       |  CAST(COUNT(*) AS BIGINT) AS n_selected,
       |  CAST(COUNT(*) AS DOUBLE) / MAX(ng) AS density,
       |  md5(string_agg(fpos || ':' || fh, ',' ORDER BY fpos, fh)) AS fp_md5
       |FROM selected GROUP BY doc_id""".stripMargin

  // -------------------------------------------------------- boilerplate

  /** Segment width (words) for boilerplate hashing. CCNet hashes lines;
    * the synthetic corpus has no newlines, so fixed 2-word segments stand
    * in — measured df distribution (max 29 ≈ 5.8% of docs at sf0.01) makes
    * the 5% threshold sparse-but-active on real testdata, not inert. */
  private val ChunkWords = 2

  /** A segment is boilerplate when it appears in ≥ max(2, 5%) of docs. */
  private val BoilerDfPct = 5

  /**
   * Line-level boilerplate removal [EXT] (the CCNet dedup-by-line-hash
   * family): segment every document into fixed-width word chunks, count
   * each chunk's document frequency corpus-wide, and strip chunks that
   * appear in ≥ max(2, [[BoilerDfPct]]%) of documents. Emits per-doc
   * retention stats plus an md5 witness of the cleaned text (kept chunks
   * re-joined in position order).
   *
   * Scale shape at 100 TB: chunking is a per-row array transform (no
   * shuffle); df is ONE hash aggregate over (chunk-hash, doc) — the
   * shuffle carries an 8-byte md5-derived hash, never chunk text — with
   * df derived from the per-doc multiplicities exactly like
   * [[textTfidf]]'s tf→df derivation; the flag join is an equi-join on
   * that same hash. The df threshold is computed in pure integer
   * arithmetic (`(n_docs·5+99) div 100`) — a fractional literal here
   * would parse as DECIMAL in the oracle and double in Scala and the
   * `df >= n_docs·0.05` comparison could disagree on exact boundaries.
   */
  def textBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
    val chunks = d.select(col("doc_id"),
        explode(expr(
          s"""transform(sequence(0, (size(ts) + ${ChunkWords - 1}) div $ChunkWords - 1),
             |  i -> struct(i as idx,
             |              array_join(slice(ts, i * $ChunkWords + 1, $ChunkWords), ' ') as chunk,
             |              size(slice(ts, i * $ChunkWords + 1, $ChunkWords)) as nw))""".stripMargin)).as("c"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"), col("c.chunk").as("chunk"),
              col("c.nw").as("n_words"), md5Long(col("c.chunk")).as("h"))
    val perDoc = chunks.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("m"))
    val dfT = perDoc.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val kept = when(!col("is_boiler"), col("n_words")).otherwise(lit(0L))
    // join the corpus against the BOILER set only, not the whole df table:
    // boilerplate is by definition few distinct strings with huge df, so
    // the build side shrinks from vocabulary-sized to boiler-sized and AQE
    // turns the flag join into a broadcast join at any scale where the
    // boiler set fits (measured 1.38 s → sub-second at sf0.1)
    val boiler = dfT.crossJoin(broadcast(n))
      .filter(col("df") >= greatest(lit(2L), expr(s"(n_docs * $BoilerDfPct + 99) div 100")))
      .select(col("h"), lit(true).as("b"))
    chunks.join(boiler, Seq("h"), "left")
      .withColumn("is_boiler", coalesce(col("b"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        sum(col("n_words")).as("n_tokens"),
        sum(kept).as("n_kept_tokens"),
        (sum(when(col("is_boiler"), 1L).otherwise(0L)).cast("double") / count(lit(1)))
          .as("boiler_frac"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(!col("is_boiler"),
              struct(col("chunk_idx"), col("chunk"))))),
            s => s.getField("chunk")), " ")).as("cleaned_md5"))
  }

  val textBoilerplateSql: String =
    s"""WITH d AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents),
       |ch AS (
       |  SELECT doc_id, u.idx AS chunk_idx, u.chunk AS chunk, u.nw AS n_words,
       |         CAST(('0x' || substring(md5(u.chunk), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id,
       |          unnest(list_transform(range((len(ts) + ${ChunkWords - 1}) // $ChunkWords),
       |            i -> {'idx': i,
       |                  'chunk': array_to_string(ts[i*$ChunkWords+1 : i*$ChunkWords+$ChunkWords], ' '),
       |                  'nw': len(ts[i*$ChunkWords+1 : i*$ChunkWords+$ChunkWords])})) AS u
       |        FROM d)),
       |per_doc AS (SELECT h, doc_id, COUNT(*) AS m FROM ch GROUP BY 1, 2),
       |dft AS (SELECT h, COUNT(*) AS df FROM per_doc GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |fl AS (
       |  SELECT ch.*, dft.df,
       |         dft.df >= GREATEST(2, (n.n_docs * $BoilerDfPct + 99) // 100) AS is_boiler
       |  FROM ch JOIN dft USING (h) CROSS JOIN n)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       |  CAST(SUM(n_words) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN NOT is_boiler THEN n_words ELSE 0 END) AS BIGINT) AS n_kept_tokens,
       |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS boiler_frac,
       |  md5(coalesce(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' '
       |                          ORDER BY chunk_idx), '')) AS cleaned_md5
       |FROM fl GROUP BY doc_id""".stripMargin

  // --------------------------------------------------------- unigram LM

  /** Band cutoffs sit inside the measured score distribution (quartiles
    * ≈ 3.398 / 3.402 / 3.405, max 3.71 at sf0.01) so the bands are
    * discriminative, not decorative. */
  private val LmGoodUpTo = 3.4
  private val LmMidUpTo = 3.41

  /**
   * Unigram language-model quality scoring [EXT] — the KenLM-perplexity
   * stand-in every web-corpus pipeline runs: train add-one-smoothed
   * unigram frequencies on the TRAIN split (assignment shared with
   * [[Sampling.sampleSplit]]), then score every document by its mean
   * negative log-likelihood, with OOV counts and a quality band.
   *
   * Scale shape: the vocabulary is a token-level aggregate (map-side
   * partial combine) whose result is vocabulary-sized — broadcast to the
   * scoring join, so scoring is a single pass over the exploded corpus
   * with NO shuffle on the corpus side beyond the per-doc re-aggregate.
   * Float playbook: ln-derived doubles are rounded to 6 decimals before
   * banding/output; the band cutoffs compare the SAME rounded double in
   * both engines.
   */
  def textUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), Sampling.splitCol(col("doc_id")).as("split"),
              explode(toks(col("text"))).as("tok"))
    val vocab = d.filter(col("split") === "train")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum(col("c")).as("t_total"), count(lit(1)).as("v_size"))
    val avg = round(sum(col("neglogp")) / count(lit(1)), 6)
    d.join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("c0", coalesce(col("c"), lit(0L)))
      .withColumn("neglogp",
        -log((col("c0") + 1).cast("double") / (col("t_total") + col("v_size")).cast("double")))
      .groupBy(col("doc_id"), col("split"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("c0") === 0, 1L).otherwise(0L)).as("n_oov"),
        avg.as("avg_neg_logp"),
        when(avg <= LmGoodUpTo, "good").when(avg <= LmMidUpTo, "mid")
          .otherwise("poor").as("lm_band"))
  }

  val textUnigramLmSql: String =
    s"""WITH d AS (SELECT doc_id, ${Sampling.splitSqlExpr} AS split,
       |                  string_split_regex(text, '\\s+') AS ts FROM documents),
       |tok AS (SELECT doc_id, split, unnest(ts) AS tok FROM d),
       |vocab AS (SELECT tok, COUNT(*) AS c FROM tok WHERE split = 'train' GROUP BY 1),
       |totals AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM vocab),
       |scored AS (
       |  SELECT t.doc_id, t.split, coalesce(v.c, 0) AS c,
       |         -ln(CAST(coalesce(v.c, 0) + 1 AS DOUBLE) / (tt.t_total + tt.v_size)) AS neglogp
       |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt)
       |SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(SUM(neglogp) / COUNT(*), 6) AS avg_neg_logp,
       |  CASE WHEN round(SUM(neglogp) / COUNT(*), 6) <= $LmGoodUpTo THEN 'good'
       |       WHEN round(SUM(neglogp) / COUNT(*), 6) <= $LmMidUpTo THEN 'mid'
       |       ELSE 'poor' END AS lm_band
       |FROM scored GROUP BY 1, 2""".stripMargin

  // --------------------------------------------- perplexity filtering

  /** Sample size for the perplexity-percentile cut: bottom-K docs by
    * salted md5 — the same mergeable KMV shape as
    * [[Sketches.quantileSketch]]'s bottom-k, so the cut costs ONE
    * `TakeOrderedAndProject` (zero shuffles) at any corpus size. */
  private val PplSampleK = 256
  private val PplSalt = "pplcut1"

  /**
   * Perplexity-based quality filtering [EXT] — the CCNet/KenLM corpus
   * pattern: train a smoothed LM on the reference split, score every
   * document's perplexity exp(mean −ln p(w)), cut the corpus into
   * head/middle/tail at the empirical perplexity terciles, keep
   * head+middle. The LM is the add-one-smoothed unigram model
   * [[textUnigramLm]] trains (same vocabulary aggregate, train split via
   * [[Sampling.splitCol]]); what this operator adds is the
   * DISTRIBUTION-relative cut — CCNet's insight that the threshold must
   * come from the scored corpus itself, not a fixed constant.
   *
   * Scale shape: vocabulary aggregate (map-side combine, broadcast back)
   * → one scoring pass over the exploded corpus → per-doc re-aggregate —
   * the textUnigramLm plan — then the tercile cutoffs come from a
   * bottom-[[PplSampleK]]-by-md5 document sample: a
   * `TakeOrderedAndProject` whose per-partition partials merge on the
   * driver (k rows), exactly the quantile-sketch/centroid
   * collect-and-rebroadcast pattern. The final keep/band projection is
   * zero-shuffle over the checkpointed per-doc scores with the cutoffs
   * baked in as literals. No global sort, no window, nothing
   * corpus-sized ever leaves the executors.
   *
   * Float playbook: per-doc mean −ln p is rounded to 6 decimals BEFORE
   * exp, and the perplexity again after, so band comparisons see
   * bit-identical doubles in both engines. Sample ranking ties break on
   * the md5 key; cutoff comparisons are <= on the rounded values.
   */
  def qualityPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), Sampling.splitCol(col("doc_id")).as("split"),
              explode(toks(col("text"))).as("tok"))
    val vocab = d.filter(col("split") === "train")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = vocab.agg(sum(col("c")).as("t_total"),
                           count(lit(1)).as("v_size"))
    val nl = round(sum(col("neglogp")) / count(lit(1)), 6)
    val scored = Checkpoints.cut(
      d.join(broadcast(vocab), Seq("tok"), "left")
        .crossJoin(broadcast(totals))
        .withColumn("c0", coalesce(col("c"), lit(0L)))
        .withColumn("neglogp",
          -log((col("c0") + 1).cast("double") /
               (col("t_total") + col("v_size")).cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), round(exp(nl), 6).as("ppl")))
    val samp = scored
      .select(col("ppl"),
        md5Long(concat_ws("", lit(PplSalt), col("doc_id").cast("string")))
          .as("hk"))
      .orderBy(col("hk").asc).limit(PplSampleK)
      .collect()
    require(samp.nonEmpty, "quality_perplexity: empty documents corpus")
    val sk = samp.map(r => (r.getDouble(0), r.getLong(1))).sortBy(identity)
    val n = sk.length
    // tercile ranks ceil(n/3), ceil(2n/3) — exact terciles when the
    // corpus is smaller than the sample (n = corpus size there)
    val c1 = sk((n + 2) / 3 - 1)._1
    val c2 = sk((2 * n + 2) / 3 - 1)._1
    scored.select(col("doc_id"), col("n_tokens"), col("ppl"),
      when(col("ppl") <= c1, "head").when(col("ppl") <= c2, "middle")
        .otherwise("tail").as("ppl_band"),
      (col("ppl") <= lit(c2)).as("keep"))
  }

  /** Oracle: same LM, same rounding, same bottom-k-by-md5 sample and
    * tercile ranks — the cutoffs come from scalar subqueries instead of
    * driver literals. */
  val qualityPerplexitySql: String =
    s"""WITH d AS (SELECT doc_id, ${Sampling.splitSqlExpr} AS split,
       |                  string_split_regex(text, '\\s+') AS ts FROM documents),
       |tok AS (SELECT doc_id, split, unnest(ts) AS tok FROM d),
       |vocab AS (SELECT tok, COUNT(*) AS c FROM tok WHERE split = 'train' GROUP BY 1),
       |totals AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM vocab),
       |scored AS (
       |  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    round(exp(round(SUM(-ln(CAST(coalesce(v.c, 0) + 1 AS DOUBLE)
       |                            / (tt.t_total + tt.v_size))) / COUNT(*), 6)), 6) AS ppl
       |  FROM tok t LEFT JOIN vocab v ON t.tok = v.tok CROSS JOIN totals tt
       |  GROUP BY t.doc_id),
       |samp AS (
       |  SELECT ppl,
       |    CAST(('0x' || substring(md5('$PplSalt' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
       |  FROM scored ORDER BY hk ASC LIMIT $PplSampleK),
       |ranked AS (
       |  SELECT ppl, row_number() OVER (ORDER BY ppl ASC, hk ASC) AS r,
       |         COUNT(*) OVER () AS n
       |  FROM samp),
       |cuts AS (SELECT
       |  (SELECT ppl FROM ranked WHERE r = (n + 2) // 3) AS c1,
       |  (SELECT ppl FROM ranked WHERE r = (2 * n + 2) // 3) AS c2)
       |SELECT doc_id, n_tokens, ppl,
       |  CASE WHEN ppl <= c1 THEN 'head' WHEN ppl <= c2 THEN 'middle'
       |       ELSE 'tail' END AS ppl_band,
       |  ppl <= c2 AS keep
       |FROM scored CROSS JOIN cuts""".stripMargin

  // ------------------------------------------------------------- Zipf fit

  /** Rank depth for the Zipf log-log fit. */
  private val ZipfK = 1000

  /**
   * Zipf's-law fit [EXT] — the corpus-health statistic every corpus
   * card reports: the least-squares slope of ln(frequency) against
   * ln(rank) over the top-[[ZipfK]] vocabulary (natural text sits near
   * −1; templated/boilerplate corpora flatten, deduped corpora
   * steepen). The moments follow [[Events.eventsTrend]]'s exact-integer
   * playbook: ln rank and ln count are quantized ONCE to milli-nats
   * (integers), all four moments are exact BIGINT sums, and the slope
   * and intercept are each one double division of order-independent
   * integers — no float accumulation anywhere.
   *
   * Scale shape: the vocabulary aggregate (map-side combine) collapses
   * the corpus; `TakeOrderedAndProject` cuts the top-k, whose k rows
   * land on the driver — the quantile-sketch collect-and-emit pattern —
   * so there is no global window and nothing rank-ordered ever
   * shuffles.
   */
  def textZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val top = t(spark, dir, "documents")
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(ZipfK)
      .select(col("c")).collect().map(_.getLong(0))
    require(top.nonEmpty, "text_zipf_fit: empty vocabulary")
    val pts = top.zipWithIndex.map { case (c, i) =>
      (math.round(math.log(i + 1.0) * 1000.0), // milli-nat ln rank
       math.round(math.log(c.toDouble) * 1000.0)) // milli-nat ln count
    }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    spark.range(1).select(
      lit(n).as("n_terms"),
      lit(num).as("slope_num"), lit(den).as("slope_den"),
      round(lit(num.toDouble / den.toDouble), 6).as("zipf_slope"),
      round(lit((sy * sxx - sx * sxy).toDouble / den.toDouble / 1000.0), 6)
        .as("ln_c_intercept"))
  }

  /** Oracle: identical top-k, milli-nat quantization, integer moments. */
  val textZipfFitSql: String =
    s"""WITH vocab AS (
       |  SELECT tok, COUNT(*) AS c
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok
       |        FROM documents)
       |  GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT $ZipfK),
       |pts AS (
       |  SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, tok ASC)
       |                          AS DOUBLE)) * 1000) AS BIGINT) AS xq,
       |         CAST(round(ln(CAST(c AS DOUBLE)) * 1000) AS BIGINT) AS yq
       |  FROM vocab),
       |m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |         CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
       |         CAST(SUM(xq * xq) AS BIGINT) AS sxx,
       |         CAST(SUM(xq * yq) AS BIGINT) AS sxy
       |  FROM pts)
       |SELECT n AS n_terms,
       |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       |  round(CAST(n * sxy - sx * sy AS DOUBLE)
       |        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       |  round(CAST(sy * sxx - sx * sxy AS DOUBLE)
       |        / CAST(n * sxx - sx * sx AS DOUBLE) / 1000.0, 6) AS ln_c_intercept
       |FROM m""".stripMargin

  // ------------------------------------------------------ token fertility

  /**
   * Tokenizer fertility audit [EXT] — the per-(lang, source) efficiency
   * table a tokenizer evaluation reports: subword tokens per whitespace
   * word ("fertility", Ács/Rust et al.) and characters per subword
   * token, over the same BPE-ish pre-token regex the rest of the text
   * family uses ([[textTokens]]'s `n_bpe_ish`). High-fertility segments
   * are where a tokenizer wastes sequence length; the ratios are exact
   * integer divisions of exact BIGINT count sums (ppm / milli units),
   * never float accumulation — at 100 TB `n_subtokens × 10⁶` exceeds
   * 2^53, so a double ratio would silently lose integer precision while
   * `div` stays exact.
   *
   * Scale shape: the three per-doc counts are array-size expressions in
   * the scan projection (no explode — nothing token-sized is ever
   * materialized per row), then ONE aggregate with map-side partial
   * combine onto the tiny (lang × source) grid. Zero joins, one
   * exchange.
   */
  def textTokenFertility(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"), col("source"),
              size(toks(col("text"))).as("w"),
              size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)")).as("s"),
              length(col("text")).as("ch"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("w")).as("n_words"),
           sum(col("s")).as("n_subtokens"),
           sum(col("ch")).as("n_chars"))
      .select(col("lang"), col("source"), col("n_docs"),
              col("n_words"), col("n_subtokens"), col("n_chars"),
              expr("n_subtokens * 1000000L div n_words").as("fertility_ppm"),
              when(col("n_subtokens") > 0,
                   expr("n_chars * 1000L div n_subtokens"))
                .as("chars_per_subtok_milli"))

  /** Oracle: identical counts; `//` is DuckDB's exact BIGINT division. */
  val textTokenFertilitySql: String =
    """WITH c AS (
      |  SELECT lang, source,
      |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS w,
      |    CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS s,
      |    CAST(length(text) AS BIGINT) AS ch
      |  FROM documents),
      |g AS (
      |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |         CAST(SUM(w) AS BIGINT) AS n_words,
      |         CAST(SUM(s) AS BIGINT) AS n_subtokens,
      |         CAST(SUM(ch) AS BIGINT) AS n_chars
      |  FROM c GROUP BY 1, 2)
      |SELECT lang, source, n_docs, n_words, n_subtokens, n_chars,
      |  (n_subtokens * 1000000) // n_words AS fertility_ppm,
      |  CASE WHEN n_subtokens > 0 THEN (n_chars * 1000) // n_subtokens
      |       END AS chars_per_subtok_milli
      |FROM g""".stripMargin

  /** Top bigrams kept per lang. */
  private val VocabTopK = 20

  /**
   * Corpus n-gram vocabulary statistics [EXT]: the per-lang frequency
   * table a tokenizer-training run (BPE merge selection) reads — top
   * [[VocabTopK]] token bigrams per lang by total count, with document
   * frequency. Shape at 100 TB: explode bigrams → ONE count aggregate
   * with map-side partial combine (the df comes from the same aggregate
   * via a per-doc distinct inside the array, not a second shuffle of the
   * corpus) → per-lang top-k as the native bounded-heap aggregate
   * [[graft.functions.TopKByCount]]: each task keeps a K-entry heap per
   * lang and only K-sized partial buffers cross the lang shuffle. The
   * rank-window formulation this replaces sorted the ENTIRE per-lang
   * bigram vocabulary through one task per language — vocabulary-sized
   * work and a per-lang parallelism ceiling the heap removes. Ties rank
   * deterministically (count DESC, bigram ASC; bigrams are unique per
   * lang after the vocab aggregate, so the order is total and the heap
   * result is bit-identical to the window's).
   */
  def textNgramVocab(spark: SparkSession, dir: String): DataFrame = {
    // per-(doc, bigram) multiplicities computed IN-ROW (native
    // ItemCounts over the bigram array — each document's term table
    // never leaves its row), so SUM gives the corpus count and COUNT
    // gives document frequency from ONE (lang, bigram) aggregate. The
    // explode → groupBy(lang, doc_id, bigram) formulation this replaces
    // paid a full corpus-bigram-sized shuffle with near-unique keys just
    // to dedup within documents.
    val perDoc = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), toks(col("text")).as("ts"))
      .select(col("lang"),
        explode(graft.functions.TextFunctions.itemCounts(
          graft.functions.TextFunctions.ngramsJoined(col("ts"), 2))).as("e"))
      .select(col("lang"), col("e.item").as("bigram"), col("e.n").as("n"))
    val vocab = perDoc
      .groupBy(col("lang"), col("bigram"))
      .agg(sum(col("n")).as("total_count"), count(lit(1)).as("doc_freq"))
    vocab
      .groupBy(col("lang"))
      .agg(graft.functions.TopKByCount.topKByCount(
        col("total_count"), col("bigram"), col("doc_freq"), VocabTopK)
        .as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).cast("int").as("rnk"),
              col("e.tag").as("bigram"), col("e.count").as("total_count"),
              col("e.payload").as("doc_freq"))
  }

  val textNgramVocabSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, string_split_regex(text, '\\s+') AS ts FROM documents),
       |g AS (
       |  SELECT doc_id, lang, unnest(list_filter(
       |    list_transform(ts, (x, i) -> CASE WHEN i + 1 <= len(ts)
       |      THEN x || ' ' || ts[i+1] END),
       |    s -> s IS NOT NULL)) AS bigram
       |  FROM d),
       |per_doc AS (
       |  SELECT lang, doc_id, bigram, COUNT(*) AS n
       |  FROM g GROUP BY 1, 2, 3),
       |vocab AS (
       |  SELECT lang, bigram, CAST(SUM(n) AS BIGINT) AS total_count,
       |         COUNT(*) AS doc_freq
       |  FROM per_doc GROUP BY 1, 2)
       |SELECT lang, CAST(rnk AS INT) AS rnk, bigram, total_count, doc_freq
       |FROM (
       |  SELECT lang, bigram, total_count, doc_freq,
       |         row_number() OVER (PARTITION BY lang
       |           ORDER BY total_count DESC, bigram ASC) AS rnk
       |  FROM vocab)
       |WHERE rnk <= $VocabTopK""".stripMargin

  /** Chunk width / stride in whitespace tokens. A production pipeline
    * chunks at 512–8192 BPE tokens; 32/24 suits the 10–99-token
    * synthetic docs while exercising the identical dataflow. */
  private val ChunkLen = 32
  private val ChunkStride = 24

  /**
   * Sliding-window document chunking [EXT] — the context-window
   * segmentation step of both pretraining tokenization and RAG indexing:
   * split each document into [[ChunkLen]]-token windows advancing by
   * [[ChunkStride]] (¼ overlap), with a short final window covering the
   * tail and a content hash per chunk for downstream chunk-level dedup.
   *
   * Scale shape: pure per-row map + explode — zero shuffle; chunk count
   * per doc is `1 + ceil((len−C)/S)`, so output size is a fixed ~4/3 of
   * input tokens regardless of corpus size.
   */
  def textChunks(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .withColumn("len", size(col("ts")).cast("long"))
      .withColumn("n_chunks", expr(
        s"""1 + (CASE WHEN len > $ChunkLen
           |     THEN (len - $ChunkLen + ${ChunkStride - 1}) div $ChunkStride
           |     ELSE 0 END)""".stripMargin))
      .select(col("doc_id"), col("ts"), col("len"),
              explode(expr("sequence(CAST(0 AS BIGINT), n_chunks - 1)"))
                .as("chunk_id"))
      .withColumn("start_tok", lit(1L) + col("chunk_id") * ChunkStride)
      .select(
        col("doc_id"), col("chunk_id"), col("start_tok"),
        least(lit(ChunkLen.toLong),
              col("len") - col("start_tok") + 1L).as("n_tokens"),
        md5Long(array_join(
          expr(s"slice(ts, CAST(start_tok AS INT), $ChunkLen)"), " "))
          .as("h"))

  val textChunksSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents),
       |l AS (
       |  SELECT doc_id, ts, len(ts) AS len,
       |         1 + (CASE WHEN len(ts) > $ChunkLen
       |              THEN (len(ts) - $ChunkLen + ${ChunkStride - 1}) // $ChunkStride
       |              ELSE 0 END) AS n_chunks
       |  FROM d),
       |e AS (
       |  SELECT doc_id, ts, len, unnest(range(0, n_chunks)) AS chunk_id FROM l)
       |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(1 + chunk_id * $ChunkStride AS BIGINT) AS start_tok,
       |  CAST(LEAST($ChunkLen, len - (1 + chunk_id * $ChunkStride) + 1) AS BIGINT) AS n_tokens,
       |  CAST(('0x' || substring(md5(array_to_string(
       |    ts[CAST(1 + chunk_id * $ChunkStride AS INT) :
       |       CAST(chunk_id * $ChunkStride + $ChunkLen AS INT)], ' ')), 1, 15)) AS BIGINT) AS h
       |FROM e""".stripMargin

  // ------------------------------------------------------------ bigram LM

  /** Interpolation weight λ on the bigram maximum-likelihood term; the
    * unigram add-one term gets (1−λ). */
  private val BiLambda = 0.7

  /**
   * Interpolated bigram LM scoring [EXT] — the KenLM-shaped upgrade of
   * [[textUnigramLm]]: p(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·(c(w₂)+1)/(T+V),
   * trained on the train split, scored over every document as mean
   * negative log-probability plus an unseen-bigram count. The
   * interpolation term keeps p > 0 for unseen bigrams, so ln is always
   * defined.
   *
   * Scale shape: unlike the unigram vocab (broadcastable at any corpus
   * size), the BIGRAM table grows with the corpus — so the bigram join
   * is a plain equi-join on the bigram key (AQE will still broadcast it
   * while it's small); only the unigram table and the one-row totals
   * broadcast. Per-doc float summation follows the unigram precedent
   * (doc rows stay contiguous in their split; proven partition-
   * invariant at cpus 7/32), with the mean rounded to 6 per the float
   * playbook.
   */
  def textBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), Sampling.splitCol(col("doc_id")).as("split"),
              toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2) // no bigrams in a 1-token doc
      .select(col("doc_id"), col("split"),
        explode(graft.functions.TextFunctions.bigramPairs(col("ts"))).as("p"))
      .select(col("doc_id"), col("split"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val trainBi = d.filter(col("split") === "train")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val trainUni = d.filter(col("split") === "train")
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val totals = trainUni.agg(sum(col("c1")).as("t_total"), count(lit(1)).as("v_size"))
    val p =
      when(col("c1").isNotNull && col("c12").isNotNull,
           lit(BiLambda) * (col("c12").cast("double") / col("c1"))).otherwise(lit(0.0)) +
      lit(1.0 - BiLambda) *
        ((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double") /
         (col("t_total") + col("v_size")).cast("double"))
    d.join(trainBi, Seq("w1", "w2"), "left")
      .join(broadcast(trainUni), Seq("w1"), "left")
      .join(broadcast(trainUni.select(col("w1").as("w2"), col("c1").as("c2"))),
            Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("neglogp", -log(p))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_bigrams"),
           sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_unseen"),
           round(sum(col("neglogp")) / count(lit(1)), 6).as("avg_neg_logp"))
  }

  val textBigramLmSql: String =
    s"""WITH d0 AS (
       |  SELECT doc_id, ${Sampling.splitSqlExpr} AS split,
       |         string_split_regex(text, '\\s+') AS ts
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, split, ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d0, UNNEST(range(1, len(ts))) AS u(i)
       |  WHERE len(ts) >= 2),
       |bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM d WHERE split = 'train' GROUP BY 1, 2),
       |uni AS (SELECT w1, COUNT(*) AS c1 FROM d WHERE split = 'train' GROUP BY 1),
       |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t_total, COUNT(*) AS v_size FROM uni),
       |scored AS (
       |  SELECT d.doc_id, d.split, bi.c12,
       |    -ln(
       |      CASE WHEN u1.c1 IS NOT NULL AND bi.c12 IS NOT NULL
       |           THEN $BiLambda * (CAST(bi.c12 AS DOUBLE) / u1.c1) ELSE 0.0 END
       |      + ${1.0 - BiLambda} * (CAST(coalesce(u2.c1, 0) + 1 AS DOUBLE)
       |                             / CAST(tot.t_total + tot.v_size AS DOUBLE))) AS neglogp
       |  FROM d
       |  LEFT JOIN bi ON bi.w1 = d.w1 AND bi.w2 = d.w2
       |  LEFT JOIN uni u1 ON u1.w1 = d.w1
       |  LEFT JOIN uni u2 ON u2.w1 = d.w2
       |  CROSS JOIN tot)
       |SELECT doc_id, split, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN c12 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
       |  round(SUM(neglogp) / COUNT(*), 6) AS avg_neg_logp
       |FROM scored GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------ collocations

  /** Minimum corpus bigram count for a collocation candidate — the usual
    * PMI guard against one-off pairs dominating the ranking. */
  private val CollocMinCount = 5L

  /**
   * Collocation mining [EXT] — adjacent word pairs whose observed
   * frequency beats independence: the phrase-detection pass (Mikolov et
   * al. 2013's word2vec phrases, NLTK's collocation finder) a pipeline
   * runs to promote "new york"-style units before tokenizer training.
   *
   * The association score is the PMI ratio kept EXACT in integers:
   * `lift_pm = (n_ab · n_tot · 1000) div (n_a · n_b)` — the
   * P(ab)/(P(a·)P(·b)) lift in per-mille, where the marginals are the
   * bigram table's own row/column sums (the contingency-table
   * convention, so Σn_a = Σn_b = n_tot exactly). log-PMI is monotone in
   * it, so any PMI threshold/ranking is expressible downstream without
   * ever leaving integer arithmetic (the cross-engine-hashable choice;
   * ln() last-ulp drift is what per-mille integers exist to avoid).
   * Overflow bound: n_ab·n_tot·1000 stays in int64 while the scored
   * shard holds ≤ ~10⁸ bigram tokens (n_tot² · 1000 < 2⁶³); a 100 TB
   * deployment scores per language/domain shard or widens to
   * DECIMAL(38,0) — at this corpus the whole table is one safe shard.
   *
   * Scale shape: the corpus is shuffled ONCE (the (w1,w2) count
   * aggregate with map-side combine); both marginals and the total
   * derive from that vocabulary-sized pair table, not the corpus, and
   * the final assembly joins pair-table-sized inputs (AQE broadcasts
   * the small sides). The pair table is lineage-cut since four branches
   * read it.
   */
  def textCollocations(spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "documents")
      .select(toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(graft.functions.TextFunctions.bigramPairs(col("ts"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val co = Checkpoints.cut(
      pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab")),
      eager = false)
    val na = co.groupBy(col("w1")).agg(sum(col("n_ab")).as("n_a"))
    val nb = co.groupBy(col("w2")).agg(sum(col("n_ab")).as("n_b"))
    val tot = co.agg(sum(col("n_ab")).as("n_tot"))
    co.filter(col("n_ab") >= CollocMinCount)
      .join(na, "w1").join(nb, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
              expr("(n_ab * n_tot * 1000) div (n_a * n_b)").as("lift_pm"))
  }

  val textCollocationsSql: String =
    s"""WITH d AS (
       |  SELECT string_split_regex(text, '\\s+') AS ts FROM documents),
       |p AS (
       |  SELECT ts[i] AS w1, ts[i + 1] AS w2
       |  FROM d, UNNEST(range(1, len(ts))) AS u(i)
       |  WHERE len(ts) >= 2),
       |co AS (SELECT w1, w2, COUNT(*) AS n_ab FROM p GROUP BY 1, 2),
       |na AS (SELECT w1, CAST(SUM(n_ab) AS BIGINT) AS n_a FROM co GROUP BY 1),
       |nb AS (SELECT w2, CAST(SUM(n_ab) AS BIGINT) AS n_b FROM co GROUP BY 1),
       |tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n_tot FROM co)
       |SELECT co.w1, co.w2, CAST(co.n_ab AS BIGINT) AS n_ab,
       |  na.n_a, nb.n_b,
       |  (CAST(co.n_ab AS BIGINT) * tot.n_tot * 1000) // (na.n_a * nb.n_b)
       |    AS lift_pm
       |FROM co JOIN na USING (w1) JOIN nb USING (w2) CROSS JOIN tot
       |WHERE co.n_ab >= $CollocMinCount""".stripMargin

  // ------------------------------------------------------- feature hashing

  /** Hashed feature space size (a small power of two, so bucket = low 9
    * hash bits and the sign bit is the next one up) and the per-doc
    * sparse-signature size. */
  private val FhBuckets = 512L
  /** Sign bit = the bit just above the bucket bits: both engines take it
    * as `h / FhBuckets mod 2`, so deriving the shift from the constant
    * (rather than hardcoding 9) keeps Spark and the oracle coupled
    * structurally if the bucket count ever changes. */
  private val FhShift = java.lang.Long.numberOfTrailingZeros(FhBuckets)
  private val FhTopK = 8

  /**
   * Hashing-trick feature vectorization [EXT] — the Vowpal-Wabbit /
   * fastText representation op: every token maps to one of [[FhBuckets]]
   * buckets by hash, with a hash-derived ±1 sign so colliding features
   * cancel in expectation instead of compounding (Weinberger et al.
   * 2009); a document's vector is the signed bucket-count histogram.
   * Emitted as each doc's TOP-[[FhTopK]] buckets by |weight| (ties to
   * the smaller bucket) — the sparse signature a downstream linear
   * model or nearest-neighbor index consumes. All integer arithmetic;
   * bucket and sign come from disjoint bits of the shared 60-bit md5
   * ([[Tables.md5Long]]), so the oracle reproduces every weight
   * exactly (sign bit via `h // 512 % 2` ≡ bit 9).
   *
   * Scale shape: one (doc, bucket) count aggregate with map-side
   * combine (the corpus' only shuffle of token-derived rows — 16 bytes
   * per row past the scan), then a doc-partitioned top-k window over
   * the ≤[[FhBuckets]]-per-doc aggregate — never a global sort.
   */
  def textHashedFeatures(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5Long(col("tok"))
    val fq = t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"),
              pmod(h, lit(FhBuckets)).as("bucket"),
              (lit(1L) - lit(2L) * pmod(shiftright(h, FhShift), lit(2L))).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(abs(col("weight")).desc, col("bucket").asc)
    fq.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= FhTopK)
  }

  val textHashedFeaturesSql: String =
    s"""WITH tk AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents),
       |hb AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS h
       |  FROM tk),
       |fq AS (
       |  SELECT doc_id, h % $FhBuckets AS bucket,
       |    CAST(SUM(1 - 2 * ((h // $FhBuckets) % 2)) AS BIGINT) AS weight
       |  FROM hb GROUP BY 1, 2)
       |SELECT doc_id, bucket, weight, rank FROM (
       |  SELECT doc_id, bucket, weight,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY abs(weight) DESC, bucket ASC) AS rank
       |  FROM fq WHERE weight <> 0)
       |WHERE rank <= $FhTopK""".stripMargin

  // ----------------------------------------------------------- BPE merges

  /** Number of BPE merge rounds and the symbol-boundary separator (a
    * control char no corpus token contains). */
  private val BpeRounds = 4
  private val BpeSep = "\u0001"

  /**
   * BPE tokenizer training [EXT] — the merge-selection loop itself, not
   * just its frequency tables: per round, count adjacent symbol pairs
   * over the (deduped, frequency-weighted) vocabulary, pick the most
   * frequent pair (ties to the lexicographically smaller), merge it
   * everywhere, repeat. Output is the merge table (round, left symbol,
   * right symbol, weighted pair count) — the artifact a BPE tokenizer
   * ships.
   *
   * The merge step is where naive ports go wrong: "replace pair (a,b)"
   * must be GREEDY LEFTMOST over each word's symbol sequence ("aaaa"
   * with merge (a,a) → (aa)(aa), not (aa)a a). Both engines' literal
   * `replace` scans left-to-right over non-overlapping occurrences, so
   * encoding each word with every symbol wrapped in its OWN separators
   * (`·a··b··c·` for [a,b,c]) makes plain string replace of `·a··b·` →
   * `·ab·` exactly that greedy merge — adjacent matches don't share
   * characters, so consecutive pairs both fire in one pass. Identical
   * builtin, identical semantics, bit-identical vocabularies.
   *
   * Scale shape: everything after the one vocabulary aggregate runs on
   * DISTINCT WORDS (Zipf makes that orders of magnitude smaller than
   * the corpus) weighted by frequency; each round is one explode+agg
   * over the vocab plus a 1-row collect (the argmax merge — the same
   * legitimate driver scalar as k-means centroids), and the merge
   * itself is a zero-shuffle map. The oracle unrolls the loop
   * CTE-for-CTE.
   */
  /** Merges accepted per batched training pass for the gated queries.
    * Batch selection is PROVABLY sequential-equal (see [[bpeTrainOn]]),
    * so the gate's hash against the strictly-sequential oracle holds by
    * construction at any M; a real ~30k-merge run would use M in the
    * hundreds. */
  private val BpeBatchM = 4

  /** The trained merge table as driver-side scalars (4 rows — the same
    * legitimate driver collect as the k-means centroid loop); shared by
    * [[bpeMerges]] (the artifact) and [[bpeEncode]] (its application). */
  private def bpeTrain(spark: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bpeTrainOn(t(spark, dir, "documents"), BpeRounds, BpeBatchM)

  /**
   * Batched BPE trainer (VERDICT r5 #2), EXACTLY equal to the
   * sequential trainer. Sequential BPE runs one count-job + one corpus
   * rewrite PER MERGE — ~30k chained Spark jobs for a real tokenizer,
   * which no cluster survives. Each pass here instead:
   *
   *  1. counts adjacent pairs once (one explode+agg job over the
   *     frequency-weighted vocab) and pulls a small ranked candidate
   *     window to the driver;
   *  2. takes the maximal PREFIX of the ranking that is pairwise
   *     symbol-disjoint (selection STOPS at the first candidate sharing
   *     a symbol — or its merged result — with an earlier one, rather
   *     than skipping it);
   *  3. truncates that prefix to members whose count STRICTLY exceeds
   *     `c_next`, the best count outside the batch (the stop candidate,
   *     or the window floor when the window may be incomplete); if that
   *     empties the batch, it falls back to the top pair alone — the
   *     plain sequential step, always exact;
   *  4. applies the surviving batch as ONE chained-replace projection —
   *     disjointness makes the chain order-independent and each link
   *     exactly the greedy-leftmost merge of the sequential trainer.
   *
   * Why this equals sequential BPE, merge for merge and count for
   * count: any pair a batch merge can CREATE — (x, a·b) or (a·b, y), or
   * (a·b, c·d) across two merges — occurs only where the pass-start
   * corpus had an adjacency overlapping a batch pair, so its count is
   * bounded by an OVERLAPPING pass-start pair's count; under the prefix
   * rule every overlapping pair ranks outside the batch, hence ≤
   * c_next < (every batch member's count). Non-batch old pairs only
   * lose occurrences, and batch members (mutually disjoint) keep
   * exactly their pass-start counts. So at each unrolled sequential
   * step the next batch member still wins strictly — no tie-break
   * ambiguity, bit-identical merge table. Flat count distributions just
   * shrink M_eff toward 1 (never wrong, only less batched); Zipfian
   * pair counts — every real corpus — keep batches full.
   *
   * Passes ≈ ceil(merges / M_eff): 30k merges at M=256 is ~120 count
   * jobs instead of 30k. `batchM = 1` IS the old sequential trainer.
   * [[BpeBatchSpec]] pins equality on a steep corpus (one pass), an
   * adversarial corpus engineered to re-rank under its own top merge
   * (the guard falls back to sequential), and greedy-leftmost rewrite
   * semantics within a pass.
   */
  private[operators] def bpeTrainOn(docs: DataFrame, rounds: Int,
                                    batchM: Int): Seq[(Int, String, String, Long)] =
    bpeTrainPasses(docs, rounds, batchM)._1

  /** [[bpeTrainOn]] plus the number of passes taken — observable so the
    * spec can assert batching actually collapsed rounds into passes. */
  private[operators] def bpeTrainPasses(docs: DataFrame, rounds: Int,
                                        batchM: Int): (Seq[(Int, String, String, Long)], Int) = {
    val words0Plan = docs
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(BpeSep),
                     array_join(expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
                                BpeSep + BpeSep),
                     lit(BpeSep)).as("enc"),
              col("freq"))
    val words0 = Checkpoints.cut(words0Plan) // loop re-reads this tiny table each pass
    var enc = words0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // stop early if a (tiny or synthetic) corpus runs out of adjacent
    // pairs before `rounds` — the oracle's fixed unroll degrades the
    // same way: an empty t_i CTE contributes no merge row
    var passes = 0
    var exhausted = false
    while (merges.size < rounds && !exhausted) {
      val want = math.min(batchM, rounds - merges.size)
      val window = want * 4 // oversample so prefix-stops rarely starve a batch
      val syms = expr(s"split(substring(enc, 2, length(enc) - 2), '$BpeSep$BpeSep')")
      val ranked = enc
        .select(col("freq"), syms.as("syms"))
        // single-symbol words have no pairs; Spark's sequence(1, 0) is
        // DESCENDING (unlike DuckDB's empty range), so filter them out
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(window).collect()
        .map(t => (t.getString(0), t.getString(1), t.getLong(2))).toSeq
      if (ranked.isEmpty) exhausted = true
      else {
        passes += 1
        // maximal disjoint PREFIX: stop (don't skip) at the first
        // candidate touching an already-taken symbol or merged result
        val touched = scala.collection.mutable.Set.empty[String]
        val prefix = ranked.take(want).takeWhile { case (a, b, _) =>
          val ok = !touched(a) && !touched(b) && !touched(a + b)
          if (ok) touched ++= Seq(a, b, a + b)
          ok
        }
        // best count OUTSIDE the accepted prefix: the stop candidate if
        // any; else the window floor when more pairs may lie beyond it
        // (window full); -1 when the window provably saw every pair
        val cNext =
          if (prefix.size < ranked.size) ranked(prefix.size)._3
          else if (ranked.size == window) ranked.last._3
          else -1L
        val exact = prefix.takeWhile(_._3 > cNext) match {
          case Seq() => prefix.take(1) // flat top: plain sequential step
          case p     => p
        }
        val rewritten = exact.foldLeft(col("enc")) { case (c, (a, b, _)) =>
          replace(c, lit(s"$BpeSep$a$BpeSep$BpeSep$b$BpeSep"),
                  lit(s"$BpeSep$a$b$BpeSep"))
        }
        enc = enc.select(rewritten.as("enc"), col("freq"))
        exact.foreach { case (a, b, cnt) =>
          merges += ((merges.size + 1, a, b, cnt))
        }
      }
    }
    (merges.toSeq, passes)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrain(spark, dir).toDF("round", "left_sym", "right_sym", "pair_count")
      .select(col("round").cast("long"), col("left_sym"), col("right_sym"),
              col("pair_count"))
  }

  /** The training CTE chain (w, w0, p_i/t_i/m_i) shared verbatim by
    * [[bpeMergesSql]] and [[bpeEncodeSql]], so the oracle's merge table
    * is one artifact composed twice — not re-derived by string surgery
    * on rendered SQL. The m_i merge uses a SCALAR one-row form of t_i
    * (coalesce(max(..), '')) so a merge round that found no pair (tiny
    * or synthetic corpus exhausting adjacent pairs before BpeRounds)
    * degrades to a no-op replace instead of an empty CROSS JOIN
    * annihilating every row — matching the Spark side's early-stopped
    * (shorter) merge chain, whose missing rounds are also no-ops. */
  private val bpeTrainCtes: String = {
    val sep = "chr(1)"
    def stage(i: Int): String = {
      val prev = if (i == 1) "w0" else s"m${i - 1}"
      s"""p$i AS (
         |  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(enc, chr(1)), $sep || $sep) AS syms, freq FROM $prev),
         |       UNNEST(range(1, len(syms))) AS u(i)
         |  GROUP BY 1, 2),
         |t$i AS (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |s$i AS (SELECT coalesce(max(a), '') AS a, coalesce(max(b), '') AS b FROM t$i),
         |m$i AS (
         |  SELECT replace(enc, $sep || t.a || $sep || $sep || t.b || $sep,
         |                 $sep || t.a || t.b || $sep) AS enc, freq
         |  FROM $prev CROSS JOIN s$i t)""".stripMargin
    }
    val stages = (1 to BpeRounds).map(stage).mkString(",\n")
    s"""WITH w AS (
       |  SELECT tok, COUNT(*) AS freq
       |  FROM (SELECT unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)
       |  GROUP BY 1),
       |w0 AS (
       |  SELECT $sep || array_to_string(list_transform(range(1, length(tok) + 1),
       |                                 i -> substring(tok, i, 1)), $sep || $sep) || $sep AS enc,
       |         freq
       |  FROM w),
       |$stages""".stripMargin
  }

  val bpeMergesSql: String = {
    val out = (1 to BpeRounds).map(i =>
      s"SELECT CAST($i AS BIGINT) AS round, a AS left_sym, b AS right_sym, cnt AS pair_count FROM t$i")
      .mkString("\n UNION ALL ")
    s"""$bpeTrainCtes
       |$out""".stripMargin
  }

  /**
   * BPE tokenizer APPLICATION [EXT] — encode the corpus with the merge
   * table [[bpeTrain]] learns: every token is symbol-encoded with the
   * same double-separator scheme and the trained merges are replayed in
   * training order (greedy-leftmost via literal `replace`, exactly the
   * training semantics), then per-document symbol counts are emitted —
   * the token-budget accounting a pretraining pipeline runs corpus-wide.
   *
   * Zero-shuffle by construction: the merge table is 4 driver scalars
   * baked into the projection as literals (production broadcasts a
   * ~50k-row merge table; same plan shape), so encoding is a pure
   * per-row map over `documents` — nothing crosses the network at any
   * corpus size. The vocabulary-invariant (Σ_vocab freq·n_syms ==
   * Σ_corpus n_syms) is spec'd in CorpusOps2Spec's sibling suite.
   */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrain(spark, dir)
    val e0 = "concat(chr(1), array_join(transform(sequence(1, length(tok)), " +
      "i -> substring(tok, i, 1)), chr(1) || chr(1)), chr(1))"
    val chain = merges.foldLeft(e0) { case (acc, (_, a, b, _)) =>
      s"replace($acc, chr(1) || '$a' || chr(1) || chr(1) || '$b' || chr(1), " +
        s"chr(1) || '$a$b' || chr(1))"
    }
    t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .withColumn("encs", expr(s"transform(ts, tok -> $chain)"))
      .select(col("doc_id"),
        size(col("ts")).as("n_tokens"),
        expr("aggregate(ts, 0L, (acc, tok) -> acc + length(tok))").as("n_chars_sym"),
        expr("aggregate(encs, 0L, (acc, e) -> acc + (length(e) - length(replace(e, chr(1)))) div 2)")
          .as("n_syms"))
      .select(col("doc_id"), col("n_tokens"), col("n_chars_sym"), col("n_syms"),
        (col("n_chars_sym") - col("n_syms")).as("n_merged"),
        (col("n_syms").cast("double") / col("n_chars_sym")).as("compression"))
  }

  val bpeEncodeSql: String = {
    val mergePattern = (i: Int) =>
      (s"chr(1) || s$i.a || chr(1) || chr(1) || s$i.b || chr(1)",
       s"chr(1) || s$i.a || s$i.b || chr(1)")
    val chain = (1 to BpeRounds).foldLeft("e") { (acc, i) =>
      val (pat, rep) = mergePattern(i)
      s"replace($acc, $pat, $rep)"
    }
    // s_i is guaranteed one row (coalesce-over-aggregate), so an
    // exhausted merge round is a no-op replace here, never an empty
    // CROSS JOIN wiping the result
    val joins = (1 to BpeRounds).map(i => s"CROSS JOIN s$i").mkString(" ")
    s"""$bpeTrainCtes,
       |enc0 AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(text, '\\s+'),
       |      tok -> chr(1) || array_to_string(list_transform(range(1, length(tok) + 1),
       |               i -> substring(tok, i, 1)), chr(1) || chr(1)) || chr(1)) AS encs,
       |    string_split_regex(text, '\\s+') AS ts
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, ts,
       |    list_transform(encs, e -> $chain) AS encs2
       |  FROM enc0 $joins),
       |agg AS (
       |  SELECT doc_id,
       |    CAST(len(ts) AS INT) AS n_tokens,
       |    CAST(list_aggregate(list_transform(ts, tok -> CAST(length(tok) AS BIGINT)), 'sum') AS BIGINT) AS n_chars_sym,
       |    CAST(list_aggregate(list_transform(encs2,
       |      e -> CAST((length(e) - length(replace(e, chr(1), ''))) // 2 AS BIGINT)), 'sum') AS BIGINT) AS n_syms
       |  FROM enc)
       |SELECT doc_id, n_tokens, n_chars_sym, n_syms,
       |  n_chars_sym - n_syms AS n_merged,
       |  CAST(n_syms AS DOUBLE) / n_chars_sym AS compression
       |FROM agg""".stripMargin
  }

  // ------------------------------------------------------ sequence packing

  /** Training-sequence capacity (tokens per packed sequence) and the
    * shard width that bounds each packing stream. */
  private val PackCap = 256L
  private val PackShardDocs = 100L

  /**
   * Sequence packing [EXT]: lay document chunks head-to-tail into
   * fixed-capacity training sequences — the GPT-style concat-and-cut
   * packer: the token stream is concatenated in a deterministic order
   * and cut every [[PackCap]] tokens, a chunk whose span crosses the
   * boundary straddles two packs (`crosses` marks it), and packing
   * restarts per (source, shard) so no single stream is unbounded.
   * (First-fit padding packing is a sequential recurrence — each pad
   * shifts every later boundary decision — which is exactly the kind of
   * non-associative per-row loop that does NOT distribute; concat-and-
   * cut is what large-scale pretraining actually ships for that reason.)
   *
   * Scale shape: a single GLOBAL packing order would be one reducer
   * sorting the corpus — the canonical accidental bottleneck. Sharding
   * by (source, doc_id div 100) bounds every window partition to ~100
   * documents' chunks while keeping the assignment fully deterministic
   * (each shard's packing depends only on its own chunks, so the job
   * parallelizes to |shards| regardless of corpus size). One window
   * pass, all-integer arithmetic.
   */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    textChunks(spark, dir)
      .join(t(spark, dir, "documents").select(col("doc_id"), col("source")), "doc_id")
      .withColumn("shard", expr(s"doc_id div $PackShardDocs"))
      .withColumn("start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("source"), col("shard"), col("doc_id"), col("chunk_id"),
              col("n_tokens"),
              expr(s"start div $PackCap").as("pack_id"),
              (col("start") % PackCap).as("offset"),
              ((col("start") % PackCap) + col("n_tokens") > PackCap).as("crosses"))
  }

  val packSequencesSql: String =
    s"""WITH chunks AS ($textChunksSql),
       |c AS (
       |  SELECT d.source, ch.doc_id // $PackShardDocs AS shard,
       |         ch.doc_id, ch.chunk_id, ch.n_tokens
       |  FROM chunks ch JOIN documents d ON d.doc_id = ch.doc_id),
       |cum AS (
       |  SELECT *, CAST(SUM(n_tokens) OVER w - n_tokens AS BIGINT) AS start
       |  FROM c
       |  WINDOW w AS (PARTITION BY source, shard ORDER BY doc_id, chunk_id
       |               ROWS UNBOUNDED PRECEDING))
       |SELECT source, CAST(shard AS BIGINT) AS shard, doc_id, chunk_id, n_tokens,
       |       start // $PackCap AS pack_id,
       |       start % $PackCap AS offset,
       |       (start % $PackCap) + n_tokens > $PackCap AS crosses
       |FROM cum""".stripMargin

  // ------------------------------------------------- linear quality filter

  /** Classifier decision thresholds on the rounded sigmoid score. */
  private val ClfKeepFrom = 0.52
  private val ClfReviewFrom = 0.48

  /**
   * Linear quality-classifier inference [EXT]: the fastText/CCNet-style
   * document filter — hash each token into a weight table, average the
   * weights, squash through a sigmoid, band into keep/review/drop. This
   * is the *inference dataflow* of the standard LLM-corpus quality
   * classifier; the weight table here is a deterministic stand-in
   * (w(tok) = md5(tok) mod 2001 − 1000 ∈ [−1000, 1000] — i.e. the hash
   * IS the lookup), where production broadcasts a trained table keyed by
   * the same bucket hash. Swapping real weights changes no plan shape.
   *
   * Determinism: weights are INTEGERS summed exactly (a double-weight
   * sum would be accumulation-order-dependent and could never
   * hash-match); the single division and the sigmoid's exp happen once
   * per document on identical operands, rounded to 6 per the
   * cross-engine float playbook. Zero shuffles beyond the per-doc
   * aggregate — at 100 TB this is one scan + one doc-keyed combine.
   */
  def textClassifier(spark: SparkSession, dir: String): DataFrame = {
    val w = (md5Long(col("tok")) % 2001 - 1000)
    val logit = col("s_int").cast("double") / (col("n_tokens") * 1000).cast("double")
    val score = round(lit(1.0) / (lit(1.0) + exp(-logit)), 6)
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), w.as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("s_int"))
      .select(col("doc_id"), col("n_tokens"), col("s_int"),
              score.as("score"),
              when(score >= ClfKeepFrom, "keep")
                .when(score >= ClfReviewFrom, "review")
                .otherwise("drop").as("band"))
  }

  val textClassifierSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |         CAST(SUM(CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 2001 - 1000) AS BIGINT) AS s_int
       |  FROM tok GROUP BY 1),
       |sc AS (
       |  SELECT doc_id, n_tokens, s_int,
       |         round(CAST(1 AS DOUBLE) / (1.0 + exp(-(CAST(s_int AS DOUBLE) / CAST(n_tokens * 1000 AS DOUBLE)))), 6) AS score
       |  FROM agg)
       |SELECT doc_id, n_tokens, s_int, score,
       |       CASE WHEN score >= $ClfKeepFrom THEN 'keep'
       |            WHEN score >= $ClfReviewFrom THEN 'review'
       |            ELSE 'drop' END AS band
       |FROM sc""".stripMargin

  // ----------------------------------------------------------------- BM25

  /** BM25 query terms (frequent corpus tokens so every SF has matches)
    * and the standard Okapi parameters. TfScale is (k1+1) written as ONE
    * literal — computing 1.2+1.0 gives 2.2000000000000002, a different
    * double than the literal 2.2 an oracle would parse. */
  private val Bm25Terms = Seq("join", "vector", "stream", "filter")
  private val Bm25K1 = 1.2
  private val Bm25B  = 0.75
  private val Bm25TfScale = 2.2 // k1 + 1, as a single round-trip literal
  private val Bm25TopK = 20

  /**
   * BM25 retrieval [EXT]: score every document against a fixed term set
   * and return the global top-20 — the lexical half of a retrieval
   * pipeline (the dense half is ann_*). Shape per 100 TB:
   *
   *  - term frequencies only materialize for the query terms — the tf
   *    aggregate's input is pre-filtered to |terms| tokens per doc, so
   *    the shuffle carries O(docs × |terms|), not the whole token stream;
   *  - document length comes from the same single token scan; corpus
   *    stats (N, avg dl) are a one-row broadcast;
   *  - per-term scores are pivoted into fixed columns and summed in
   *    fixed syntactic order (sums of doubles are accumulation-order-
   *    dependent; a groupBy-sum over term rows would be partitioning-
   *    dependent and could never hash-match an oracle);
   *  - the global top-k is TakeOrderedAndProject (per-partition top-20
   *    merged on the driver), never a full sort.
   *
   * Every division keeps one DOUBLE operand so neither engine falls into
   * decimal arithmetic; the ln-derived score is rounded to 6 before
   * ranking per the cross-engine float playbook.
   */
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    // document length IN-ROW: dl is just the token-array size (WsTokens
    // never returns an empty array, so every doc keeps its row — same
    // membership as the explode+count it replaces, minus one corpus
    // explode and one doc-keyed shuffle). NULL text makes dl NULL while
    // count(lit(1)) would still count the row; drop such docs so
    // membership matches the oracle's unnest (unnest of NULL = no rows).
    val dl = t(spark, dir, "documents")
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("dl"))
      .filter(col("dl").isNotNull)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
                       (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
                       (col("df").cast("double") + lit(0.5))))
      .withColumn("s", round(
        col("idf") * (col("tf").cast("double") * lit(Bm25TfScale)) /
        (col("tf").cast("double") +
         lit(Bm25K1) * (lit(1.0) - lit(Bm25B) +
                        lit(Bm25B) * col("dl").cast("double") / col("avgdl"))), 6))
    val piv = Bm25Terms.map(term =>
      coalesce(max(when(col("tok") === term, col("s"))), lit(0.0)).as(s"s_$term"))
    val total = Bm25Terms.map(term => col(s"s_$term")).reduceLeft(_ + _)
    scored.groupBy(col("doc_id"))
      .agg(piv.head, piv.tail: _*)
      .withColumn("score", total)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  val textBm25Sql: String = {
    val termList = Bm25Terms.map(term => s"'$term'").mkString(", ")
    val pivots = Bm25Terms.map(term =>
      s"coalesce(MAX(CASE WHEN tok = '$term' THEN s END), 0.0) AS s_$term").mkString(",\n      |    ")
    val totalExpr = Bm25Terms.map(term => s"s_$term").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
       |stats AS (SELECT COUNT(*) AS n_docs,
       |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok
       |       WHERE tok IN ($termList) GROUP BY 1, 2),
       |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.doc_id, tf.tok,
       |    round(
       |      ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * $Bm25TfScale)
       |      / (CAST(tf AS DOUBLE)
       |         + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE) / avgdl)),
       |      6) AS s
       |  FROM tf JOIN df ON tf.tok = df.tok JOIN dl ON dl.doc_id = tf.doc_id
       |  CROSS JOIN stats),
       |piv AS (
       |  SELECT doc_id,
       |    $pivots
       |  FROM scored GROUP BY doc_id)
       |SELECT doc_id, ${Bm25Terms.map(term => s"s_$term").mkString(", ")},
       |       $totalExpr AS score
       |FROM piv
       |ORDER BY score DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin
  }

  // ------------------------------------------------ C4-style line filtering

  /** Pseudo-line width (tokens) for corpora without newlines, and the
    * distinct-fraction floor (n_distinct/n_words ≥ 0.7) below which a
    * line counts as repetitive. */
  private val LineWords = 12

  /**
   * C4/Gopher-style LINE-level rule filtering [EXT] — the cleaning stage
   * that precedes document-level quality scoring in web-corpus pipelines
   * (C4 drops lines without terminal punctuation; Gopher drops repetitive
   * and too-short lines; CCNet drops boilerplate): explode each document
   * into lines, evaluate every rule per line, reassemble the surviving
   * lines IN ORDER, and emit per-rule hit counts plus the document
   * verdict.
   *
   * The testdata corpus has no newlines and no punctuation, so "lines"
   * are fixed 12-token windows and the terminal-punctuation rule is
   * REPORT-ONLY here (counted, not enforced — enforcing it on a
   * punctuation-free corpus would degenerately drop everything);
   * [[qualityLineVerdicts]] takes `requirePunct` so the spec proves the
   * rule enforces correctly on a crafted punctuated corpus. The short-line
   * and repetitive-line rules ARE active on this corpus (tail windows and
   * small-vocabulary repetition).
   *
   * Scale shape: one explode + one doc-keyed aggregate — line rules are
   * pure per-line expressions (no joins, no global state), so the whole
   * stage is a single map+combine pass at any corpus size. Reassembly
   * sorts each doc's kept lines by index INSIDE the aggregate
   * (sort_array over collect_list), never a global sort.
   */
  def qualityLineVerdicts(spark: SparkSession, dir: String, requirePunct: Boolean): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), toks(col("text")).as("ts"))
    val lines = d.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(ts) + ${LineWords - 1}) div $LineWords - 1),
           |  i -> struct(i AS idx, slice(ts, i * $LineWords + 1, $LineWords) AS ws))""".stripMargin)).as("l"))
      .select(col("doc_id"), col("l.idx").as("line_idx"),
              array_join(col("l.ws"), " ").as("line"),
              size(col("l.ws")).as("n_words"),
              size(array_distinct(col("l.ws"))).as("n_distinct"))
    val noPunct    = !col("line").rlike("[.!?]$")
    val short      = col("n_words") < 3
    val repetitive = col("n_distinct") * 10 < col("n_words") * 7
    val junk       = col("line").contains("{") || lower(col("line")).contains("lorem ipsum")
    val keepLine   = !short && !repetitive && !junk &&
      (if (requirePunct) !noPunct else lit(true))
    lines
      .withColumn("keep_line", keepLine)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(keepLine.cast("long")).as("n_kept"),
        sum(noPunct.cast("long")).as("n_no_punct"),
        sum(short.cast("long")).as("n_short"),
        sum(repetitive.cast("long")).as("n_repetitive"),
        sum(junk.cast("long")).as("n_junk"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep_line"),
              struct(col("line_idx"), col("line"))))),
            s => s.getField("line")), " ")).as("cleaned_md5"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("n_no_punct"),
              col("n_short"), col("n_repetitive"), col("n_junk"),
              (col("n_kept").cast("double") / col("n_lines")).as("kept_frac"),
              (col("n_kept") >= 2).as("doc_keep"),
              col("cleaned_md5"))
  }

  def qualityC4Rules(spark: SparkSession, dir: String): DataFrame =
    qualityLineVerdicts(spark, dir, requirePunct = false)

  /** Gopher stopword list (Rae et al. 2021 §A.2.1): a document should
    * contain at least [[GopherMinStops]] distinct words from it. */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  private val GopherMinStops = 2

  /**
   * Gopher document-quality rules (Rae et al. 2021, MassiveText §A.2.1)
   * [EXT] — the document-LEVEL complement of the line-level
   * [[qualityC4Rules]]: word count in [50, 100k], mean word length in
   * [3, 10] chars, ≥ 80% of words containing an alphabetic character,
   * ≤ 10% symbol words (# or ellipsis), and ≥ 2 distinct stopwords.
   * All ratios are integer per-mille (`x * 1000 div n`), so both
   * engines agree bit-for-bit — no float thresholds anywhere.
   *
   * The synthetic corpus has alphabetic, symbol-free words, so the
   * word-count rule is the one that cuts BOTH ways here (223/500 docs
   * under 50 words at sf0.01); mean/alpha/symbol pass degenerately and
   * are still enforced (they'd activate on real data). The STOPWORD
   * rule would degenerately fail every synthetic doc (the corpus has
   * "the" but rarely a second list word), so like the C4 punctuation
   * rule it is REPORT-ONLY on the gated surface (`n_stop` emitted,
   * verdict unaffected) and `enforceStop` lets the spec prove the
   * enforcement path on a crafted corpus.
   *
   * Scale shape: a PURE per-row map — token array built once per doc,
   * every metric a higher-order-function fold over it (codegen'd, no
   * UDF), zero shuffles (ratchet-pinned). At 100 TB this is scan-bound.
   */
  def qualityGopherVerdicts(docs: DataFrame, enforceStop: Boolean): DataFrame = {
    val stopArr = array(GopherStops.map(lit): _*)
    val withM = docs
      .select(col("doc_id"), toks(lower(col("text"))).as("ts"))
      .withColumn("n_words", size(col("ts")).cast("long"))
      .withColumn("mean_len_pm",
        expr("aggregate(ts, 0L, (a, w) -> a + length(w)) * 1000L div n_words"))
      .withColumn("alpha_pm",
        expr("size(filter(ts, w -> w rlike '[a-z]')) * 1000L div n_words"))
      .withColumn("sym_pm",
        expr("size(filter(ts, w -> w like '%#%' or w like '%...%')) * 1000L div n_words"))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("ts")), stopArr)).cast("long"))
    val passWords = col("n_words") >= 50 && col("n_words") <= 100000
    val passMean  = col("mean_len_pm") >= 3000 && col("mean_len_pm") <= 10000
    val passAlpha = col("alpha_pm") >= 800
    val passSym   = col("sym_pm") <= 100
    val passStop  = col("n_stop") >= GopherMinStops
    val keep = passWords && passMean && passAlpha && passSym &&
      (if (enforceStop) passStop else lit(true))
    withM.select(col("doc_id"), col("n_words"), col("mean_len_pm"),
      col("alpha_pm"), col("sym_pm"), col("n_stop"),
      passWords.as("pass_words"), passMean.as("pass_mean"),
      passAlpha.as("pass_alpha"), passSym.as("pass_sym"),
      keep.as("doc_keep"))
  }

  def qualityGopherRules(spark: SparkSession, dir: String): DataFrame =
    qualityGopherVerdicts(t(spark, dir, "documents"), enforceStop = false)

  val qualityGopherRulesSql: String = {
    val stops = GopherStops.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ts
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
       |    CAST(list_sum(list_transform(ts, w -> len(w))) AS BIGINT) * 1000
       |      // len(ts) AS mean_len_pm,
       |    CAST(len(list_filter(ts, w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
       |      * 1000 // len(ts) AS alpha_pm,
       |    CAST(len(list_filter(ts, w -> contains(w, '#') OR contains(w, '...'))) AS BIGINT)
       |      * 1000 // len(ts) AS sym_pm,
       |    CAST(len(list_intersect(list_distinct(ts), $stops)) AS BIGINT) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_words, mean_len_pm, alpha_pm, sym_pm, n_stop,
       |  n_words BETWEEN 50 AND 100000 AS pass_words,
       |  mean_len_pm BETWEEN 3000 AND 10000 AS pass_mean,
       |  alpha_pm >= 800 AS pass_alpha,
       |  sym_pm <= 100 AS pass_sym,
       |  (n_words BETWEEN 50 AND 100000) AND (mean_len_pm BETWEEN 3000 AND 10000)
       |    AND alpha_pm >= 800 AND sym_pm <= 100 AS doc_keep
       |FROM m""".stripMargin
  }

  /** md5 of the empty string — the reassembled text of a document that
    * lost every span; inlined so both engines agree without a special
    * case. */
  private val EmptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"

  /**
   * Global span dedup with reassembly [EXT] — the C4/MassiveText step
   * the rule-based line filter ([[qualityC4Rules]]) does NOT cover:
   * every [[LineWords]]-token span that occurs more than once in the
   * ENTIRE corpus is dropped except its first occurrence (ordered by
   * (doc_id, span_idx)), and each document is reassembled from its
   * surviving spans in order. Output is (per doc) the span counts and
   * the md5 of the reassembled text — the full new text round-trips
   * through the hash so the gate pins the exact reassembly, not just
   * the counts.
   *
   * Scale shape: the keep-first decision is ONE window rank partitioned
   * by the span's md5-derived 8-byte hash (the dedup_exact idiom — the
   * shuffle is keyed by hashes, not span text), and reassembly is one
   * doc-keyed aggregate; nothing quadratic, no global sort. First-
   * occurrence semantics make the result insensitive to partitioning
   * (proven by the local[7] sweeps like every other query).
   */
  def textSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), toks(col("text")).as("ts"))
    val spans = d.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, (size(ts) + ${LineWords - 1}) div $LineWords - 1),
           |  i -> struct(i AS idx,
           |              array_join(slice(ts, i * $LineWords + 1, $LineWords), ' ') AS span))""".stripMargin))
        .as("s"))
      .select(col("doc_id"), col("s.idx").as("span_idx"), col("s.span").as("span"))
    val kept = spans
      .withColumn("h", md5Long(col("span")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"), col("span_idx"))))
      .filter(col("rn") === 1)
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
           md5(concat_ws("\n", expr(
             "transform(array_sort(collect_list(struct(span_idx, span))), s -> s.span)")))
             .as("kept_md5"))
    d.select(col("doc_id"),
        expr(s"(size(ts) + ${LineWords - 1}) div $LineWords").as("n_spans"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("kept_md5"), lit(EmptyMd5)).as("kept_md5"))
  }

  val textSpanDedupSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents),
       |spans AS (
       |  SELECT doc_id, i AS span_idx,
       |         array_to_string(ts[i * $LineWords + 1 : (i + 1) * $LineWords], ' ') AS span
       |  FROM d, UNNEST(range(0, (len(ts) + ${LineWords - 1}) // $LineWords)) AS u(i)),
       |kept AS (
       |  SELECT doc_id, span_idx, span FROM (
       |    SELECT doc_id, span_idx, span,
       |           row_number() OVER (
       |             PARTITION BY CAST(('0x' || substring(md5(span), 1, 15)) AS BIGINT)
       |             ORDER BY doc_id, span_idx) AS rn
       |    FROM spans)
       |  WHERE rn = 1),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_kept,
       |         md5(string_agg(span, chr(10) ORDER BY span_idx)) AS kept_md5
       |  FROM kept GROUP BY 1),
       |base AS (
       |  SELECT doc_id, (len(ts) + ${LineWords - 1}) // $LineWords AS n_spans
       |  FROM d)
       |SELECT b.doc_id, CAST(b.n_spans AS BIGINT) AS n_spans,
       |  CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(b.n_spans - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
       |  COALESCE(a.kept_md5, '$EmptyMd5') AS kept_md5
       |FROM base b LEFT JOIN agg a ON a.doc_id = b.doc_id""".stripMargin

  val qualityC4RulesSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents),
       |ln0 AS (
       |  SELECT doc_id, i AS line_idx,
       |         array_to_string(ts[i * $LineWords + 1 : (i + 1) * $LineWords], ' ') AS line,
       |         len(ts[i * $LineWords + 1 : (i + 1) * $LineWords]) AS n_words,
       |         len(list_distinct(ts[i * $LineWords + 1 : (i + 1) * $LineWords])) AS n_distinct
       |  FROM d, UNNEST(range(0, (len(ts) + ${LineWords - 1}) // $LineWords)) AS u(i)),
       |r AS (
       |  SELECT doc_id, line_idx, line,
       |         NOT regexp_matches(line, '[.!?]$$') AS no_punct,
       |         n_words < 3 AS short,
       |         n_distinct * 10 < n_words * 7 AS repetitive,
       |         (contains(line, '{') OR contains(lower(line), 'lorem ipsum')) AS junk
       |  FROM ln0),
       |k AS (
       |  SELECT *, (NOT short AND NOT repetitive AND NOT junk) AS keep_line FROM r)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_lines,
       |  CAST(SUM(keep_line::INT) AS BIGINT) AS n_kept,
       |  CAST(SUM(no_punct::INT) AS BIGINT) AS n_no_punct,
       |  CAST(SUM(short::INT) AS BIGINT) AS n_short,
       |  CAST(SUM(repetitive::INT) AS BIGINT) AS n_repetitive,
       |  CAST(SUM(junk::INT) AS BIGINT) AS n_junk,
       |  CAST(SUM(keep_line::INT) AS DOUBLE) / COUNT(*) AS kept_frac,
       |  SUM(keep_line::INT) >= 2 AS doc_keep,
       |  md5(coalesce(string_agg(CASE WHEN keep_line THEN line END, ' '
       |                          ORDER BY line_idx), '')) AS cleaned_md5
       |FROM k GROUP BY doc_id""".stripMargin

  // -------------------------------------------------- character entropy

  /** Fixed-point scale for per-character-class entropy terms (0.1
    * milli-nat units): c·ln(c) is quantized to an integer BEFORE summing
    * so the cross-doc aggregate is order-independent in both engines;
    * the coarser-than-micro scale keeps libm's last-ulp ln differences
    * ~2 orders of magnitude away from any rounding boundary. */
  private val EntScale = 10000L

  /**
   * Character-entropy quality signal [EXT] (Dolma/Gopher-family filter:
   * near-zero entropy = degenerate repetition, unusually high = random
   * noise or binary junk): Shannon entropy of each document's character
   * distribution, H = ln N − (Σ c·ln c)/N over per-character counts.
   *
   * Dataflow: explode to characters, ONE (doc, char)-keyed count with
   * map-side combine — the shuffle carries per-partition (doc, char)
   * partials (≈ docs × alphabet rows, NOT corpus characters) — then a
   * doc-keyed roll-up. A zero-shuffle HOF twin (distinct chars +
   * length(replace) counting) was measured 2× SLOWER at sf0.1 (1.57 s
   * vs 0.84 s): interpreted per-element lambdas lose to codegen'd
   * explode+hash-agg, the same tradeoff the n-gram operators hit, and
   * the combined shuffle is already negligible at any corpus size.
   *
   * Determinism: per-character terms are quantized to integers
   * ([[EntScale]]) before summing, so the aggregate is exact; the final
   * H combines that integer with ln(N) once per doc, rounded to 6 per
   * the cross-engine float playbook. The ~1e-4-nat quantization error
   * is irrelevant for a quality signal.
   */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), "")).as("c"))
      .groupBy(col("doc_id"), col("lang"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("cnt")).cast("int").as("n_chars"),
           count(lit(1)).cast("int").as("n_distinct_chars"),
           sum(expr(s"CAST(round(cnt * ln(cnt) * $EntScale) AS LONG)")).as("ent_sum_fp"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("n_distinct_chars"),
        col("ent_sum_fp"),
        round(expr(s"ln(n_chars) - ent_sum_fp / ${EntScale}.0 / n_chars"), 6)
          .as("entropy_nats"))

  val textEntropySql: String =
    s"""WITH e AS (
       |  SELECT doc_id, lang, CAST(length(text) AS INT) AS n_chars,
       |    CAST(len(list_distinct(regexp_extract_all(text, '.'))) AS INT) AS n_distinct_chars,
       |    CAST(list_aggregate(list_transform(
       |      list_distinct(regexp_extract_all(text, '.')),
       |      c -> CAST(round(
       |        (length(text) - length(replace(text, c, '')))
       |        * ln(length(text) - length(replace(text, c, ''))) * $EntScale) AS BIGINT)),
       |      'sum') AS BIGINT) AS ent_sum_fp
       |  FROM documents)
       |SELECT doc_id, lang, n_chars, n_distinct_chars, ent_sum_fp,
       |  round(ln(n_chars) - ent_sum_fp / $EntScale.0 / n_chars, 6) AS entropy_nats
       |FROM e""".stripMargin

  // ---------------------------------------------------------- vocab growth

  /** Corpus-order deciles for the growth curve. */
  private val VgBuckets = 10L

  /**
   * Vocabulary growth curve (Heaps' law) [EXT] — cumulative distinct
   * token types vs cumulative tokens over the corpus in ingestion order,
   * bucketed into deciles. The saturation diagnostic a corpus build
   * watches: a new shard that stops contributing new types is duplicated
   * or template-generated; a type count growing ∝ tokens signals noise
   * (OCR garbage, random ids). Corpus position is the doc_id's place in
   * the [min, max] id span — identical to the raw id for dense ids, and
   * well-behaved for ingestion ids with gaps or per-shard offsets (the
   * sf1 rig's 1e6-offset copies land one copy per decile).
   *
   * Scale shape: "first occurrence of each type" is ONE aggregation —
   * min(doc_id) per token, map-side combinable (min is associative), the
   * only corpus-sized shuffle. Bucketing the firsts and the per-doc token
   * volumes are two more aggregations onto [[VgBuckets]] rows, and the
   * cumulative sums run on that decile table — an unpartitioned window
   * over exactly 10 rows, size-invariant at any corpus scale.
   *
   * Determinism: counts and integer bucket arithmetic only.
   */
  def textVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = t(spark, dir, "documents")
    // one-row id-span stats, referenced by two branches — cut so the
    // scan runs once, not once per branch. Position within [min, max] of
    // the id span, NOT raw id / count: identical for dense ids, and
    // robust to ingestion ids with gaps or per-shard offsets
    val n = Checkpoints.cut(d.agg(min(col("doc_id")).as("mn"),
      (max(col("doc_id")) - min(col("doc_id")) + 1).as("span")))
    val bucketOf = least(lit(VgBuckets - 1),
      expr(s"(first_doc - mn) * $VgBuckets div span"))
    val newTypes = d.select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(n))
      .select(bucketOf.as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val tokVol = d
      .select(col("doc_id"),
              size(filter(toks(col("text")), _ =!= "")).cast("long").as("nt"))
      .crossJoin(broadcast(n))
      .select(least(lit(VgBuckets - 1),
                    expr(s"(doc_id - mn) * $VgBuckets div span")).as("bucket"),
              col("nt"))
      .groupBy(col("bucket")).agg(sum(col("nt")).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // left join from the token volumes: every decile has tokens, but a
    // saturated vocabulary contributes zero NEW types in later deciles —
    // those rows are the signal, not droppable
    tokVol.join(broadcast(newTypes), Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
              coalesce(col("new_types"), lit(0L)).as("new_types"))
      .select(col("bucket"), col("n_tokens"), col("new_types"),
              sum(col("n_tokens")).over(w).as("cum_tokens"),
              sum(col("new_types")).over(w).as("cum_types"))
  }

  /** Oracle: identical firsts/volume CTEs; the cumulative sums are the
    * same 10-row running window. */
  val textVocabGrowthSql: String =
    s"""WITH n AS (SELECT MIN(doc_id) AS mn,
       |                  MAX(doc_id) - MIN(doc_id) + 1 AS span FROM documents),
       |tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents),
       |firsts AS (
       |  SELECT tok, MIN(doc_id) AS first_doc
       |  FROM tok WHERE tok <> '' GROUP BY 1),
       |nt AS (
       |  SELECT LEAST(${VgBuckets - 1}, (first_doc - mn) * $VgBuckets // span) AS bucket,
       |         COUNT(*) AS new_types
       |  FROM firsts, n GROUP BY 1),
       |tv AS (
       |  SELECT LEAST(${VgBuckets - 1}, (doc_id - mn) * $VgBuckets // span) AS bucket,
       |         CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
       |                                  x -> x <> ''))) AS BIGINT) AS n_tokens
       |  FROM documents, n GROUP BY 1)
       |SELECT tv.bucket, tv.n_tokens,
       |  COALESCE(nt.new_types, 0) AS new_types,
       |  CAST(SUM(tv.n_tokens) OVER (ORDER BY tv.bucket
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  CAST(SUM(COALESCE(nt.new_types, 0)) OVER (ORDER BY tv.bucket
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
       |FROM tv LEFT JOIN nt USING (bucket)""".stripMargin

  // -------------------------------------------------------- RAKE keywords

  /** RAKE stopword delimiters (the [[textQuality]] list), the phrase
    * length cap, the keyword count, and the score fixed-point scale. */
  private val RakeStops = Seq("the", "a", "of", "and", "to", "in", "is")
  private val RakeMaxLen = 4
  private val RakeTopK = 50
  private val RakeScale = 1000000L

  /**
   * RAKE keyword extraction [EXT] (Rose et al. 2010) — corpus-level
   * keyword phrases for topic labeling / corpus cards: candidate
   * phrases are maximal stopword-delimited token runs (capped at
   * [[RakeMaxLen]] words — RAKE's standard guard against run-on
   * candidates), each word w scores deg(w)/freq(w) where freq counts
   * occurrences in candidates and deg sums the lengths of the phrases
   * containing it (co-occurrence degree, favoring words that appear in
   * longer collocations), and a phrase scores the sum of its word
   * scores. Top-[[RakeTopK]] distinct phrases by score.
   *
   * Scale shape: phrase segmentation is ONE pass — posexplode + a
   * per-document running stopword count (window partitioned by doc_id,
   * never global) assigns each token its phrase group; everything
   * downstream (phrase table, word freq/deg, the score join) operates
   * on vocabulary-sized aggregates, and the final cut is a
   * TakeOrdered over distinct phrases. No join carries document text.
   *
   * Determinism: freq/deg are exact counts; each word score is ONE
   * integer floor-division in [[RakeScale]] units; phrase scores are
   * exact integer sums of those; ties break on the phrase string.
   */
  def textRakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toksPos = t(spark, dir, "documents")
      .select(col("doc_id"), posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .withColumn("is_stop", col("tok").isin(RakeStops: _*))
      .withColumn("grp", sum(when(col("is_stop"), 1L).otherwise(0L)).over(wDoc))
    val phrases = toksPos.filter(!col("is_stop") && col("tok") =!= "")
      .groupBy(col("doc_id"), col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                     s => s.getField("tok")).as("ws"))
      .filter(size(col("ws")).between(1, RakeMaxLen))
      .select(concat_ws(" ", col("ws")).as("phrase"), col("ws"),
              size(col("ws")).as("len"))
    // freq/deg over EVERY phrase instance; scores summed once per
    // phrase TYPE (the word list is recoverable from the phrase string,
    // so the type table never carries arrays)
    val words = phrases.select(col("phrase"), col("len"), explode(col("ws")).as("w"))
    val wordScore = words.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("w"), expr(s"deg * $RakeScale div freq").as("ws_fp"))
    val ptypes = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"))
    ptypes
      .select(col("phrase"), col("n_occurrences"),
              explode(split(col("phrase"), " ")).as("w"))
      .join(wordScore, "w")
      .groupBy(col("phrase"), col("n_occurrences"))
      .agg(sum(col("ws_fp")).as("score_fp"))
      .orderBy(col("score_fp").desc, col("phrase").asc)
      .limit(RakeTopK)
      .select(col("phrase"), col("n_occurrences"), col("score_fp"),
              round(col("score_fp").cast("double") / RakeScale, 6).as("score"))
  }

  /** Oracle: parallel-unnest positions, the same running stopword-count
    * segmentation, identical integer scoring. */
  val textRakeKeywordsSql: String = {
    val stops = RakeStops.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS ts FROM documents),
       |tp AS (
       |  SELECT doc_id, pos, tok, tok IN $stops AS is_stop
       |  FROM (SELECT doc_id, unnest(ts) AS tok,
       |               unnest(generate_series(1, len(ts))) AS pos
       |        FROM d)),
       |tg AS (
       |  SELECT doc_id, pos, tok, is_stop,
       |         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM tp),
       |ph AS (
       |  SELECT string_agg(tok, ' ' ORDER BY pos) AS phrase, COUNT(*) AS len
       |  FROM tg WHERE NOT is_stop AND tok <> ''
       |  GROUP BY doc_id, grp
       |  HAVING COUNT(*) BETWEEN 1 AND $RakeMaxLen),
       |wrd AS (SELECT phrase, len, unnest(string_split(phrase, ' ')) AS w FROM ph),
       |wsc AS (
       |  SELECT w, (CAST(SUM(len) AS BIGINT) * $RakeScale) // COUNT(*) AS ws_fp
       |  FROM wrd GROUP BY 1),
       |pt AS (SELECT phrase, COUNT(*) AS n_occurrences FROM ph GROUP BY 1),
       |pw AS (
       |  SELECT pt.phrase, pt.n_occurrences,
       |         unnest(string_split(pt.phrase, ' ')) AS w
       |  FROM pt),
       |sc AS (
       |  SELECT phrase, n_occurrences, CAST(SUM(ws_fp) AS BIGINT) AS score_fp
       |  FROM pw JOIN wsc USING (w) GROUP BY 1, 2)
       |SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences, score_fp,
       |       round(CAST(score_fp AS DOUBLE) / $RakeScale, 6) AS score
       |FROM sc ORDER BY score_fp DESC, phrase ASC LIMIT $RakeTopK""".stripMargin
  }

  // --------------------------------------- interpolated Kneser–Ney bigram LM

  /** Rows kept in the KN table (top bigrams by count, ties by words). */
  private val KnTopK = 200

  /**
   * Interpolated KNESER–NEY bigram probabilities [EXT] — the standard LM
   * smoothing (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.26) that the
   * MLE/add-one models ([[textUnigramLm]], [[textBigramLm]]) approximate:
   *
   *   P(w2|w1) = (c12 − D)⁺/c1 + (D·fanout(w1)/c1) · Pcont(w2)
   *   Pcont(w2) = fanin(w2) / T            (continuation probability)
   *
   * with discount D = 3/4, fanout(w1) = |{w : c(w1,w) > 0}|,
   * fanin(w2) = |{w : c(w,w2) > 0}|, T = distinct bigram types. The
   * continuation count is KN's insight: "Francisco" is frequent but
   * follows only "San", so its weight as a NOVEL continuation is its
   * fan-in, not its frequency.
   *
   * Determinism: with D = 3/4 every quantity is a ratio of integers, so
   * the probability is quantized in two exact integer stages shared with
   * the oracle — Pcont to ppb, then
   * `kn_p_ppb = ((4·c12 − 3)·10⁹ + 3·fanout·pcont_ppb) div (4·c1)`
   * (the (c12 − D)⁺ clamp is vacuous: c12 ≥ 1 > D). No libm anywhere.
   * Magnitudes: 4·c12·10⁹ needs c12 < 2³¹ — per-shard corpora beyond
   * ~2 G occurrences of one bigram would move the sums to DECIMAL(38,0),
   * the same note as text_token_fertility.
   *
   * Scale shape: one (w1,w2) hash aggregate over the exploded corpus
   * (map-side combine does the heavy lifting); the three conditioning
   * tables (per-w1 totals/fan-out, per-w2 fan-in, the 1-row type count)
   * are VOCABULARY-sized aggregates of the already-aggregated bigram
   * table, broadcast back — the [[textUnigramLm]] precedent. Final top-K
   * is `TakeOrderedAndProject`. Nothing document-sized ever joins.
   */
  def textKneserNey(spark: SparkSession, dir: String): DataFrame = {
    // the bigram-count table feeds FOUR consumers (the probability join
    // and the three conditioning aggregates) — cut the lineage so the
    // corpus explode runs once (the kmv_overlap lesson, NOTES r14)
    val bi = Checkpoints.cut(t(spark, dir, "documents")
      .select(toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(graft.functions.TextFunctions.bigramPairs(col("ts"))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val byW1 = bi.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("fanout"))
    val byW2 = bi.groupBy(col("w2")).agg(count(lit(1)).as("fanin"))
    val tot = bi.agg(count(lit(1)).as("t_types"))
    bi.join(broadcast(byW1), Seq("w1"))
      .join(broadcast(byW2), Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pcont_ppb", expr("fanin * 1000000000L div t_types"))
      .withColumn("kn_p_ppb",
        expr("((4L * c12 - 3L) * 1000000000L + 3L * fanout * pcont_ppb) div (4L * c1)"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(KnTopK)
      .select("w1", "w2", "c12", "c1", "fanout", "fanin", "pcont_ppb", "kn_p_ppb")
  }

  val textKneserNeySql: String =
    s"""WITH d0 AS (SELECT string_split_regex(text, '\\s+') AS ts FROM documents),
       |d AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
       |      FROM d0, UNNEST(range(1, len(ts))) AS u(i) WHERE len(ts) >= 2),
       |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM d GROUP BY 1, 2),
       |w1s AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |               CAST(COUNT(*) AS BIGINT) AS fanout FROM bi GROUP BY 1),
       |w2s AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS fanin FROM bi GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_types FROM bi),
       |s AS (
       |  SELECT bi.w1, bi.w2, bi.c12, w1s.c1, w1s.fanout, w2s.fanin,
       |         CAST((w2s.fanin * 1000000000) // tot.t_types AS BIGINT) AS pcont_ppb
       |  FROM bi JOIN w1s USING (w1) JOIN w2s USING (w2) CROSS JOIN tot)
       |SELECT w1, w2, c12, c1, fanout, fanin, pcont_ppb,
       |  CAST(((4 * c12 - 3) * 1000000000 + 3 * fanout * pcont_ppb) // (4 * c1)
       |       AS BIGINT) AS kn_p_ppb
       |FROM s ORDER BY c12 DESC, w1, w2 LIMIT $KnTopK""".stripMargin

  // ------------------------------------------------ term burstiness (VMR)

  /** Rows kept in the burstiness table (top terms by collection freq). */
  private val BurstTopK = 300

  /**
   * TERM BURSTINESS [EXT] — Church & Gale (1995): content words "burst"
   * (re-occur within a document once they appear) while function words
   * spread uniformly; the two exact diagnostics per term are
   *
   *   burst  = tf / df                 (mean occurrences per CONTAINING doc)
   *   vmr    = var/mean over ALL docs  = (N·Σc² − tf²) / (N·tf)
   *
   * (vmr = 1 is Poisson / non-bursty; ≫ 1 is bursty). Used in pipelines
   * to pick boilerplate-ish fill terms apart from topical vocabulary
   * before computing quality or dedup fingerprints.
   *
   * Determinism: tf, df, Σc², N are exact BIGINTs; both ratios quantize
   * to milli by one integer division (N·Σc² ≥ tf² by Cauchy–Schwarz, so
   * the numerator is non-negative and trunc = floor in both engines).
   *
   * Scale shape: (term, doc) combine, then a term rollup — two hash
   * exchanges, both after map-side partial aggregation; the corpus size N
   * is a 1-row broadcast. Top-K is `TakeOrderedAndProject`.
   */
  def textBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // per-(doc, token) multiplicities IN-ROW (native ItemCounts) — the
    // r15 text_ngram_vocab pattern applied to the last straggler: the
    // explode + groupBy(tok, doc_id) this replaces shuffled the whole
    // token stream on near-unique composite keys; now each document's
    // term table never leaves its row and the per-token aggregate
    // map-side-combines to vocabulary size (r16; ItemCounts ≡ the
    // explode+groupBy multiset, spec-held in TopKSpec)
    val perDoc = docs
      .select(col("doc_id"), explode(graft.functions.TextFunctions
        .itemCounts(toks(col("text")))).as("e"))
      .select(col("e.item").as("tok"), col("doc_id"), col("e.n").as("c"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy(col("tok"))
      .agg(sum(col("c")).as("tf"), count(lit(1)).as("df"),
           sum(col("c") * col("c")).as("sum_sq"))
      .crossJoin(broadcast(n))
      .withColumn("burst_milli", expr("tf * 1000L div df"))
      .withColumn("vmr_milli",
        expr("(n_docs * sum_sq - tf * tf) * 1000L div (n_docs * tf)"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(BurstTopK)
      .select("tok", "tf", "df", "n_docs", "burst_milli", "vmr_milli")
  }

  val textBurstinessSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
       |  FROM documents),
       |pd AS (SELECT tok, doc_id, CAST(COUNT(*) AS BIGINT) AS c
       |       FROM tok GROUP BY 1, 2),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |s AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS tf,
       |             CAST(COUNT(*) AS BIGINT) AS df,
       |             CAST(SUM(c * c) AS BIGINT) AS sum_sq
       |      FROM pd GROUP BY 1)
       |SELECT tok, tf, df, n_docs,
       |  CAST((tf * 1000) // df AS BIGINT) AS burst_milli,
       |  CAST(((n_docs * sum_sq - tf * tf) * 1000) // (n_docs * tf) AS BIGINT)
       |    AS vmr_milli
       |FROM s CROSS JOIN n
       |ORDER BY tf DESC, tok LIMIT $BurstTopK""".stripMargin

  // --------------------------------------------- vocabulary coverage curve

  /** Candidate vocabulary budgets for the coverage curve. */
  private val CoverageKs = Seq(16L, 64L, 256L, 1024L)

  /**
   * VOCABULARY COVERAGE CURVE [EXT] — the tokenizer-budget decision
   * table: what fraction of corpus BIGRAM occurrences the top-K bigram
   * types cover, for each candidate budget K. The curve is what decides
   * a vocab size (and, for an n-gram LM, the context table size): the
   * knee where coverage stops paying for budget. Bigram types are the
   * unit because this corpus's unigram vocabulary is deliberately tiny —
   * the bigram space is where the Zipf tail lives (same choice as
   * [[textZipfFit]]'s vocabulary).
   *
   * Determinism: counts are exact; coverage quantizes by one BIGINT
   * division per K. Ties in the top-K cut break by (count DESC, w1, w2).
   *
   * Scale shape: one (w1,w2) hash aggregate; the curve itself needs only
   * the TOP max(K) types — `TakeOrderedAndProject` + a K-row driver
   * collect and prefix sum (the quantile_sketch/zipf-fit pattern: the
   * collected state is budget-sized and mergeable, never corpus-sized).
   */
  def textBigramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val bi = Checkpoints.cut(t(spark, dir, "documents")
      .select(toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(graft.functions.TextFunctions.bigramPairs(col("ts"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c")), eager = false)
    val Array(total, vsize) = bi.agg(sum(col("c")), count(lit(1)))
      .collect()(0).toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Long])
      .toArray
    // Degenerate corpus (zero bigrams): the oracle's `r CROSS JOIN ks`
    // is empty, so it returns zero rows — mirror that instead of
    // dividing by total == 0 below.
    if (total == 0L)
      return spark.createDataFrame(Seq.empty[(Long, Long, Long, Long, Long)])
        .toDF("k", "top_bigrams", "total_bigrams", "vocab_size", "coverage_ppm")
    val top = bi.orderBy(col("c").desc, col("w1"), col("w2"))
      .limit(CoverageKs.max.toInt)
      .select(col("c")).collect().map(_.getLong(0))
    val prefix = top.scanLeft(0L)(_ + _)
    val rows = CoverageKs.map { k =>
      val covered = prefix(math.min(k, top.length.toLong).toInt)
      (k, covered, total, vsize, covered * 1000000L / total)
    }
    spark.createDataFrame(rows)
      .toDF("k", "top_bigrams", "total_bigrams", "vocab_size", "coverage_ppm")
  }

  val textBigramCoverageSql: String =
    s"""WITH d0 AS (SELECT string_split_regex(text, '\\s+') AS ts FROM documents),
       |d AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
       |      FROM d0, UNNEST(range(1, len(ts))) AS u(i) WHERE len(ts) >= 2),
       |v AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
       |               CAST(COUNT(*) AS BIGINT) AS vsize FROM v),
       |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, w1, w2) AS rn FROM v),
       |ks AS (SELECT CAST(unnest([${CoverageKs.mkString(", ")}]) AS BIGINT) AS k)
       |SELECT ks.k, CAST(SUM(CASE WHEN r.rn <= ks.k THEN r.c ELSE 0 END) AS BIGINT)
       |         AS top_bigrams,
       |       tot.total AS total_bigrams, tot.vsize AS vocab_size,
       |       CAST((SUM(CASE WHEN r.rn <= ks.k THEN r.c ELSE 0 END) * 1000000)
       |            // tot.total AS BIGINT) AS coverage_ppm
       |FROM r CROSS JOIN ks CROSS JOIN tot
       |GROUP BY ks.k, tot.total, tot.vsize""".stripMargin

  // ------------------------------------------ per-context branching entropy

  /** Nano-nat fixed-point scale for per-continuation entropy terms. */
  private val BranchScale = 1000000000L

  /**
   * PER-CONTEXT BRANCHING ENTROPY [EXT] — H(next | w1) over the corpus
   * bigram MLE: for each left context w1 the entropy of its
   * continuation distribution, −Σ_w2 (c12/c1)·ln(c12/c1). The signal
   * behind unsupervised word/phrase segmentation (Harris 1955; Jin &
   * Tanaka-Ishii 2006 — boundaries live where branching entropy spikes)
   * and the context-level complement of [[textKneserNey]]'s fan-out
   * count: fan-out says how MANY continuations, branching entropy says
   * how EVENLY they spread. Also emits the corpus entropy rate
   * Σ (c1/T)·H(·|w1) as a weighted check column.
   *
   * Determinism: each continuation term is quantized ONCE to nano-nats
   * and integer-summed per context (the mix_kl contract); the
   * per-context probabilities are exact-integer ratios inside one
   * double ln, identical expression text in both engines.
   *
   * Scale shape: one (w1,w2) aggregate, one w1-keyed term sum —
   * vocabulary-sized after the first combine; no windows, no collects.
   */
  def textBranchingEntropy(spark: SparkSession, dir: String): DataFrame = {
    val bi = Checkpoints.cut(t(spark, dir, "documents")
      .select(toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(graft.functions.TextFunctions.bigramPairs(col("ts"))).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c12")), eager = false)
    val byW1 = bi.groupBy(col("w1")).agg(sum(col("c12")).as("c1"),
                                         count(lit(1)).as("fanout"))
    bi.join(broadcast(byW1), Seq("w1"))
      .select(col("w1"), col("c1"), col("fanout"), expr(
        s"""CAST(round(-(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
           |  * ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))
           |  * $BranchScale) AS LONG)""".stripMargin).as("term_fp"))
      .groupBy(col("w1"), col("c1"), col("fanout"))
      .agg(sum(col("term_fp")).as("h_fp"))
      .withColumn("h_nats",
        round(col("h_fp").cast("double") / BranchScale.toDouble, 6))
      .select("w1", "c1", "fanout", "h_fp", "h_nats")
  }

  val textBranchingEntropySql: String =
    s"""WITH d0 AS (SELECT string_split_regex(text, '\\s+') AS ts FROM documents),
       |d AS (SELECT ts[i] AS w1, ts[i + 1] AS w2
       |      FROM d0, UNNEST(range(1, len(ts))) AS u(i) WHERE len(ts) >= 2),
       |bi AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM d GROUP BY 1, 2),
       |w1s AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
       |               CAST(COUNT(*) AS BIGINT) AS fanout FROM bi GROUP BY 1),
       |terms AS (
       |  SELECT bi.w1, w1s.c1, w1s.fanout,
       |    CAST(round(-(CAST(bi.c12 AS DOUBLE) / CAST(w1s.c1 AS DOUBLE))
       |      * ln(CAST(bi.c12 AS DOUBLE) / CAST(w1s.c1 AS DOUBLE))
       |      * $BranchScale) AS BIGINT) AS term_fp
       |  FROM bi JOIN w1s USING (w1))
       |SELECT w1, c1, fanout, CAST(SUM(term_fp) AS BIGINT) AS h_fp,
       |       round(CAST(SUM(term_fp) AS DOUBLE) / $BranchScale, 6) AS h_nats
       |FROM terms GROUP BY 1, 2, 3""".stripMargin
}
