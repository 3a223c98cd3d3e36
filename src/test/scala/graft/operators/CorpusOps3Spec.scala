package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

/**
 * Laws for the round-5 operators: C4 line filtering, character entropy,
 * BPE encoding, DSIR importance weights, SemDeDup, NN-Descent, Z-order
 * layout, and the KS drift gate — crafted-corpus activations for the
 * rules that are inert on the synthetic testdata, plus plain-Scala
 * differential twins for the compound paths.
 */
class CorpusOps3Spec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.TestSpark.spark
  private val sf = graft.TestSpark.Sf0001

  private var dir: String = _
  override def beforeAll(): Unit =
    dir = java.nio.file.Files.createTempDirectory("graft_ops3").toString
  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(dir))
  }

  private def writeDocs(name: String, docs: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val sub = s"$dir/$name"
    docs.toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"),
              lit("synthetic").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$sub/documents.parquet")
    sub
  }

  // ------------------------------------------------------ quality_c4_rules

  test("qualityLineVerdicts: punctuation rule enforces on a punctuated corpus, reports otherwise") {
    // doc 0: line 1 (12 distinct tokens, ends '.'), line 2 (12 distinct, no punct)
    val l1 = ((1 to 11).map(i => s"tok$i") :+ "end.").mkString(" ")
    val l2 = (13 to 24).map(i => s"tok$i").mkString(" ")
    // doc 1: a repetitive line (one token 12 times) — dropped in BOTH modes
    val rep = Seq.fill(12)("dup").mkString(" ")
    // doc 2: junk line (contains '{'), otherwise clean
    val junk = ((1 to 11).map(i => s"j$i") :+ "x{y.").mkString(" ")
    val sub = writeDocs("c4", Seq((0L, s"$l1 $l2", "en"), (1L, rep, "en"), (2L, junk, "en")))

    val strict = TextAnalysis.qualityLineVerdicts(spark, sub, requirePunct = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    val lax = TextAnalysis.qualityLineVerdicts(spark, sub, requirePunct = false)
      .collect().map(r => r.getLong(0) -> r).toMap

    assert(strict(0L).getLong(2) == 1L && lax(0L).getLong(2) == 2L) // n_kept
    assert(strict(0L).getLong(3) == 1L) // n_no_punct counts line 2 in both modes
    assert(lax(0L).getLong(3) == 1L)
    assert(strict(1L).getLong(2) == 0L && lax(1L).getLong(2) == 0L) // repetitive dies always
    assert(lax(1L).getLong(5) == 1L) // n_repetitive
    assert(strict(2L).getLong(2) == 0L && lax(2L).getLong(2) == 0L) // junk dies always
    assert(lax(2L).getLong(6) == 1L) // n_junk
  }

  test("qualityGopherVerdicts: every rule cuts on a crafted corpus; stopword rule enforces only when asked") {
    def words(n: Int, p: String) = (1 to n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      // 0: 60 words incl. 2 stopwords — keeps in BOTH modes
      (0L, s"the and ${words(58, "ok")}", "en"),
      // 1: 60 words, only 1 stopword — dropped ONLY under enforceStop
      (1L, s"the ${words(59, "ok")}", "en"),
      // 2: under 50 words — dropped in both modes (word-count rule)
      (2L, words(30, "w"), "en"),
      // 3: >10% symbol words — dropped in both modes (symbol rule)
      (3L, s"the and ${words(50, "ok")} ${Seq.fill(8)("#tag").mkString(" ")}", "en"),
      // 4: single-letter words -> mean length 1000pm < 3000 — dropped
      (4L, s"the and ${(1 to 58).map(_ => "a").mkString(" ")}", "en"))
    val sub = writeDocs("gopher", docs.map { case (i, t, l) => (i, t, l) })
    def keeps(enforce: Boolean): Map[Long, Boolean] =
      TextAnalysis.qualityGopherVerdicts(
          spark.read.parquet(s"$sub/documents.parquet"), enforceStop = enforce)
        .select(col("doc_id"), col("doc_keep")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val lax = keeps(enforce = false)
    val strict = keeps(enforce = true)
    assert(lax(0L) && strict(0L))
    assert(lax(1L) && !strict(1L)) // the stopword rule's enforcement delta
    assert(!lax(2L) && !strict(2L))
    assert(!lax(3L) && !strict(3L))
    assert(!lax(4L) && !strict(4L))
    // the gated surface must stay ACTIVE both ways on the real corpus
    val real = TextAnalysis.qualityGopherRules(spark, graft.TestSpark.Sf0001)
      .select(col("doc_keep")).collect().map(_.getBoolean(0))
    assert(real.exists(identity) && real.exists(!_))
  }

  test("quality_c4_rules line segmentation: ceil(n/12) lines, tail shorter than 3 words dropped as short") {
    val text = (1 to 26).map(i => s"w$i").mkString(" ") // 12 + 12 + 2
    val sub = writeDocs("c4seg", Seq((0L, text, "en")))
    val r = TextAnalysis.qualityC4Rules(spark, sub).collect()(0)
    assert(r.getLong(1) == 3L)  // n_lines
    assert(r.getLong(4) == 1L)  // n_short (the 2-token tail)
    assert(r.getLong(2) == 2L)  // the two full lines survive
  }

  // --------------------------------------------------------- text_entropy

  test("textEntropy: exact on all-distinct docs, ~0 on constant docs, ordering") {
    val sub = writeDocs("ent", Seq((0L, "ab", "en"), (1L, "aaaa", "en"), (2L, "abcd", "en"), (3L, "aabb", "en")))
    val m = TextAnalysis.textEntropy(spark, sub)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(m(0L) == 0.693147) // ln 2 rounded to 6 — c=1 terms are exactly 0
    assert(math.abs(m(1L)) < 1e-3) // quantization error only
    assert(m(2L) > m(3L)) // uniform beats skewed
    assert(math.abs(m(2L) - 2 * m(3L) + m(1L)) < 1e-2) // ln4 vs ln2 shape
  }

  // ----------------------------------------------------------- bpe_encode

  test("bpeEncode differentially matches a plain-Scala greedy-leftmost encoder on sf0.001") {
    val merges = TextAnalysis.bpeMerges(spark, sf).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    def encodeTok(tok: String): Long = {
      var syms = tok.map(_.toString).toVector
      for ((a, b) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
          else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    val expected = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split("\\s+").map(encodeTok).sum).toMap
    val got = TextAnalysis.bpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got == expected)
    // and the merge count is conserved: chars - syms = merges applied
    val rows = TextAnalysis.bpeEncode(spark, sf).collect()
    assert(rows.forall(r => r.getLong(2) - r.getLong(3) == r.getLong(4)))
  }

  test("bpeEncode greedy-leftmost law: 'aaaa' under merge (a,a) becomes (aa)(aa)") {
    // vocabulary is dominated by 'aaaa' so round 1 must pick (a,a); the
    // encoded corpus then counts 2 symbols per 'aaaa' token, 1+1 for 'ab'
    val bpeText = "aaaa aaaa aaaa ab cd ef gh"
    val sub = writeDocs("bpe", Seq((0L, bpeText, "en")))
    val enc = TextAnalysis.bpeEncode(spark, sub).collect()(0)
    val m1 = TextAnalysis.bpeMerges(spark, sub).collect().minBy(_.getLong(0))
    assert((m1.getString(1), m1.getString(2)) == ("a", "a"))
    // 3×'aaaa' → likely (aa)(aa) → then round-2 merge (aa,aa) may fuse further;
    // the invariant that survives any later merges: n_syms matches the
    // Scala twin exactly
    val merges = TextAnalysis.bpeMerges(spark, sub).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    def enc1(tok: String): Long = {
      var syms = tok.map(_.toString).toVector
      for ((a, b) <- merges) {
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
          else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    assert(enc.getLong(3) == bpeText.split(" ").map(enc1).sum)
  }

  // ------------------------------------------------------ dsir_importance

  test("dsirImportance separates target-like from background-like documents") {
    // 'en' (target) docs speak alpha/beta; 'fr' docs speak gamma/delta
    val en = (0 until 20).map(i => (i.toLong, Seq.fill(10)("alpha beta").mkString(" "), "en"))
    val fr = (20 until 40).map(i => (i.toLong, Seq.fill(10)("gamma delta").mkString(" "), "fr"))
    val sub = writeDocs("dsir", en ++ fr)
    val rows = Sampling.dsirImportance(spark, sub).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getBoolean(5)))
    assert(rows.filter(_._2 == "en").forall(r => r._3 > 0 && r._4))
    assert(rows.filter(_._2 == "fr").forall(r => r._3 < 0 && !r._4))
  }

  // ------------------------------------------------------- dedup_semantic

  private def writeEmbeddings(name: String, vecs: Seq[(Long, Seq[Float], Int)]): String = {
    import spark.implicits._
    val sub = s"$dir/$name"
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    sub
  }

  test("dedupSemantic removes the more-central members of a near-dup clique, keeps the outlier") {
    val d = 64
    def unit(axis: Int, tilt: Double, axis2: Int): Seq[Float] = {
      val v = Array.fill(d)(0.0)
      v(axis) = math.cos(tilt); v(axis2) = math.sin(tilt)
      v.map(_.toFloat).toSeq
    }
    // label-0 clique: three vectors fanned 0 / 0.2 / 0.5 rad off e0 —
    // pairwise cosines 0.98 / 0.96 / 0.88, all ≥ τ=0.4
    // label-1: two orthogonal vectors — no pair reaches τ
    val sub = writeEmbeddings("sem", Seq(
      (0L, unit(0, 0.0, 1), 0), (1L, unit(0, 0.2, 1), 0), (2L, unit(0, 0.5, 1), 0),
      (10L, unit(2, 0.0, 3), 1), (11L, unit(3, 0.0, 4), 1)))
    val removed = Similarity.dedupSemantic(spark, sub).collect()
      .map(r => r.getLong(0)).toSet
    // the clique keeps exactly one member; the orthogonal cluster keeps both
    assert(removed.size == 2 && removed.subsetOf(Set(0L, 1L, 2L)))
    // the survivor is the angular outlier: the centroid leans toward the
    // 0/0.2 pair, so vec 2 (0.5 rad) has the lowest centroid cosine
    assert(!removed.contains(2L))
  }

  // -------------------------------------------------------- ann_nndescent

  test("annNndescent matches a plain-Scala twin on sf0.001 and improves on the raw LSH seed") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val ids = emb.map(_._1)
    val v = emb.map(_._2)
    val n = v.length
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val nrm = v.map(x => math.sqrt(dot(x, x)))
    def cos(i: Int, j: Int): Double = dot(v(i), v(j)) / (nrm(i) * nrm(j))
    val k = 6
    // seed pairs: same bucket in any of the 4 bands (planes shared with prod)
    def bucket(b: Int, x: Array[Double]): Long =
      (0 until 8).map { j =>
        val p = Similarity.allPlanes(b * 8 + j).toArray
        if (dot(x, p) > 0) 1L << j else 0L
      }.sum
    val pairs = (for {
      b <- 0 until 4
      grp <- (0 until n).groupBy(i => bucket(b, v(i))).values
      pair <- grp.sorted.combinations(2)
    } yield (pair(0), pair(1))).toSet
    val seedEdges = pairs.toSeq.flatMap { case (i, j) => Seq((i, j), (j, i)) }
    def topk(edges: Seq[(Int, Int)]): Map[Int, Seq[Int]] =
      edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(_._2).distinct.sortBy(d => (-cos(s, d), ids(d))).take(k)
      }
    val g = topk(seedEdges)
    val u = g.toSeq.flatMap { case (s, ds) => ds.flatMap(d => Seq((s, d), (d, s))) }.distinct
    val uBySrc = u.groupBy(_._1)
    val cand = (u ++ u.flatMap { case (s, m) =>
      uBySrc.getOrElse(m, Nil).map(_._2).filter(_ != s).map(s -> _)
    }).distinct
    val expected = topk(cand).map { case (s, ds) =>
      ids(s) -> ds.map(d => (ids(d), cos(s, d)))
    }
    val got = Similarity.annNndescent(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      }
    assert(got == expected)
    // recall@k against brute force: the round must not lose to its seed
    val brute = (0 until n).map { i =>
      i -> (0 until n).filter(_ != i).sortBy(j => (-cos(i, j), ids(j))).take(k).toSet
    }.toMap
    def recall(graph: Map[Int, Seq[Int]]): Double =
      (0 until n).map(i => graph.getOrElse(i, Nil).toSet.intersect(brute(i)).size.toDouble / k)
        .sum / n
    val seedRecall = recall(g)
    val nndRecall = recall(topk(cand))
    assert(nndRecall >= seedRecall)
    assert(nndRecall > 0.1) // the round produces a usable graph from a sparse seed
  }

  // -------------------------------------------------------- layout_zorder

  test("layoutZorder buckets bound BOTH key spans; a linear sort leaves the second key unprunable") {
    val rows = Tables.t(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val z = Layout.layoutZorder(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val zSkSpan = z.map { case (_, _, lo, hi) => (hi - lo + 1).toDouble }.sum / z.length
    // strawman: partkey-sorted layout, same bucket count, equal row slices
    val sorted = rows.sortBy(identity)
    val nb = z.length
    val linSkSpan = sorted.grouped(math.max(1, (sorted.length + nb - 1) / nb)).map { g =>
      (g.map(_._2).max - g.map(_._2).min + 1).toDouble
    }.toSeq
    val linMean = linSkSpan.sum / linSkSpan.size
    assert(zSkSpan * 4 < linMean) // z-order bounds suppkey ~16×; 4× is a safe floor
    assert(rows.length == Layout.layoutZorder(spark, sf)
      .agg(sum(col("n_rows"))).collect()(0).getLong(0))
  }

  // ------------------------------------------------------- stats_ks_drift

  test("statsKsDrift: iid values pass, split-correlated shift trips the alpha=.05 gate") {
    import spark.implicits._
    val sub = s"$dir/ks"
    def split(id: Long): String = {
      val b = Tables.md5LongOf(s"${Profiling.KsSalt}$id".getBytes("UTF-8")) % 100
      if (b < 80) "train" else if (b < 90) "valid" else "test"
    }
    val ev = (0L until 4000L).flatMap { id =>
      val iidVal = (id * 7919 % 1000) / 10.0
      val shift = if (split(id) == "valid") 40.0 else 0.0
      Seq((id * 2, "iid", iidVal), (id * 2 + 1, "shifted", iidVal + shift))
    }
    // the shifted stream reuses the id-hash of its own event_id for the split
    val ev2 = ev.map { case (eid, t, base) =>
      val v = if (t == "shifted") {
        val b = (eid * 7919 % 1000) / 10.0
        if (split(eid) == "valid") b + 40.0 else b
      } else base
      (eid, 0L, eid % 97, t, v, "{}")
    }
    ev2.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$sub/events.parquet")
    val out = Profiling.statsKsDrift(spark, sub).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    assert(!out("iid")._3)
    assert(out("shifted")._3)
    assert(out.values.forall { case (d, ks, _) => d >= 0 && ks >= 0.0 && ks <= 1.0 })
  }

  // ------------------------------------------------------- text_winnowing

  test("textWinnowing matches a plain-Scala winnower on sf0.001; shared runs share fingerprints") {
    // plain-Scala twin of the selection (k=3, w=4, rightmost-min rule)
    def winnow(text: String): Set[(Long, Int)] = {
      val ts = text.split("\\s+")
      if (ts.length < 3) return Set.empty
      val hs = (0 to ts.length - 3).map(i =>
        Tables.md5LongOf(ts.slice(i, i + 3).mkString(" ").getBytes("UTF-8")))
      (0 to hs.length - 4).map { s =>
        val win = (s until s + 4).map(p => (hs(p), -p))
        val m = win.min
        (m._1, -m._2)
      }.toSet
    }
    val expected = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .flatMap(r => winnow(r.getString(1)).map(fp => (r.getLong(0), fp._1, fp._2)))
      .toSet
    val got = TextAnalysis.winnowSelected(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getInt(4))).toSet
    assert(got == expected)
    // guarantee: two docs sharing a ≥ w+k−1-token run share a fingerprint HASH
    val shared = (1 to 10).map(i => s"s$i").mkString(" ")
    val sub = writeDocs("win",
      Seq((0L, s"a1 a2 a3 a4 $shared a5 a6 a7", "en"),
          (1L, s"b1 b2 $shared b3 b4 b5 b6 b7", "en")))
    val sel = TextAnalysis.winnowSelected(spark, sub).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val h0 = sel.filter(_._1 == 0L).map(_._2).toSet
    val h1 = sel.filter(_._1 == 1L).map(_._2).toSet
    assert(h0.intersect(h1).nonEmpty)
    // density law on the real corpus: mean ≈ 2/(w+1) = 0.4
    val dens = TextAnalysis.textWinnowing(spark, sf).collect().map(_.getDouble(4))
    val mean = dens.sum / dens.length
    assert(mean > 0.3 && mean < 0.5)
  }

  // --------------------------------------------------- events_attribution

  test("eventsAttribution conserves conversions and revenue; stale touches fall to 'none'") {
    val out = Events.eventsAttribution(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)), Tables.dsum(col("value"))).collect()(0)
    assert(out.values.map(_._1).sum == purchases.getLong(0))
    assert(math.abs(out.values.map(_._2).sum - purchases.getDouble(1)) < 1e-6)
    // crafted: a purchase 8 days after its only touch is unattributed
    import spark.implicits._
    val sub = s"$dir/att"
    val us = 1000000L
    Seq(
      (1L, 1000L * us, 10L, "click", 1.0, "{}"),
      (2L, 1000L * us + 8L * 86400L * us * 1000, 10L, "purchase", 5.0, "{}"),
      (3L, 2000L * us, 20L, "view", 1.0, "{}"),
      (4L, 2000L * us + 3600L * us * 1000, 20L, "purchase", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$sub/events.parquet")
    val c = Events.eventsAttribution(spark, sub).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(c("none") == ((1L, 5.0)))
    assert(c("view") == ((1L, 7.0)))
  }

  // ----------------------------------------------------- events_path_topk

  test("eventsPathTopk matches a plain-Scala recount on sf0.001") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val tris = ev.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      val s = es.sortBy(e => (e._2, e._3)).map(_._4)
      s.sliding(3).filter(_.length == 3).map(_.mkString(">"))
    }
    val counts = tris.groupBy(identity).map { case (p, xs) =>
      (p, xs.size.toLong, 0L)
    }
    val users = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val s = es.sortBy(e => (e._2, e._3)).map(_._4)
      s.sliding(3).filter(_.length == 3).map(t => (t.mkString(">"), u)).distinct
    }.groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).distinct.size.toLong }
    val expected = counts.map { case (p, n, _) => (p, n, users(p)) }.toSeq
      .sortBy(t => (-t._2, t._1)).take(20)
    val got = Events.eventsPathTopk(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
  }

  // ----------------------------------------------------------- media_phash

  test("mediaPhash matches an all-pairs plain-Scala twin on sf0.001 (blocking is complete)") {
    def aHash(frame: Array[Byte]): Long = {
      val n = frame.length.toLong
      val sum = frame.iterator.map(b => (b & 0xff).toLong).sum
      frame.iterator.zipWithIndex.foldLeft(0L) { case (acc, (b, i)) =>
        if ((b & 0xff).toLong * n > sum) acc | (1L << i) else acc
      }
    }
    val frames = Tables.t(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect().flatMap { r =>
        val bytes = r.getString(1).getBytes("UTF-8")
        bytes.grouped(32).zipWithIndex.collect {
          case (f, i) if i % 4 == 0 => (r.getLong(0), aHash(f))
        }
      }
    val expected = (for {
      (da, ha) <- frames; (db, hb) <- frames if da < db
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 1
    } yield ((da, db), ham)).groupBy(_._1).map { case ((da, db), xs) =>
      (da, db, xs.length.toLong, xs.count(_._2 == 0).toLong, xs.map(_._2).min)
    }.toSet
    val got = Multimodal.mediaPhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(got == expected)
  }

  // ------------------------------------------------------ bloom_membership

  test("bloomMembership: crafted overlap is caught, and a Bloom filter never false-negatives") {
    import spark.implicits._
    val sub = s"$dir/bloom"
    // 5 src0 docs duplicate src1 texts; 5 are genuinely new
    val idx = (0 until 20).map(i => (100L + i, s"indexed doc number $i body", "en", "src1"))
    val probe = (0 until 10).map { i =>
      val text = if (i < 5) s"indexed doc number $i body" else s"brand new doc $i"
      (200L + i, text, "en", "src0")
    }
    (idx ++ probe).toDF("doc_id", "text", "lang", "source")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
              length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$sub/documents.parquet")
    val r = Sketches.bloomMembership(spark, sub).collect()(0)
    assert(r.getLong(0) == 10L)      // n_probe
    assert(r.getLong(3) == 5L)       // n_true_dup
    assert(r.getLong(5) == 0L)       // n_missed — the structural guarantee
    assert(r.getLong(1) >= 5L && r.getLong(2) <= 5L) // all dups flagged maybe
  }

  // ------------------------------------------------------------ eval_langid

  test("evalLangid: perfect classifier scores 1000 per-mille everywhere; metrics respect identities") {
    val sub = writeDocs("eval", Seq(
      (0L, "the a of and is the", "en"), (1L, "the of is a a", "en"),
      (2L, "el la de y que", "es"), (3L, "der die und das ist", "de"),
      (4L, "le et les des le", "fr")))
    val m = TextAnalysis.evalLangid(spark, sub).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    for (c <- Seq("en", "es", "de", "fr"))
      assert(m(c)._3 == 1000L && m(c)._4 == 1000L && m(c)._5 == 1000L, s"class $c: ${m(c)}")
    // identities on the real corpus: tp ≤ n_docs, tp ≤ n_guessed, metrics in [0, 1000]
    val real = TextAnalysis.evalLangid(spark, sf).collect()
    for (r <- real) {
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(2) <= math.max(r.getLong(3), r.getLong(2)))
      for (i <- 4 to 6) assert(r.getLong(i) >= 0L && r.getLong(i) <= 1000L)
    }
  }

  // ------------------------------------------------------ minhash_signatures

  test("minhashSignatures equals a plain-Scala MinHash on sf0.001 plus short docs") {
    // the reference: distinct 3-shingles of split(text, "\\s+"), each
    // hashed md5Long % M, then the 16 affine mins ((2i+1)x + (i+1)·7919)
    // % M, printed as 4 comma-joined bands joined by ';'. A doc with <3
    // tokens has no shingle and no signature row.
    val M = 2147483647L
    def reference(text: String): Option[String] = {
      val ts = text.split("\\s+", -1)
      val xs = ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
        .distinct.map(sh => Tables.md5LongOf(sh.getBytes("UTF-8")) % M)
      if (xs.isEmpty) None
      else Some((0 until 16).map(i => xs.map(x => (x * (2 * i + 1) + (i + 1) * 7919L) % M).min)
        .grouped(4).map(_.mkString(",")).mkString(";"))
    }
    val short = Seq("", "a", "a b", "a  b", " a", "a b ", " a b", "a b c",
                    "x y x y x y", "☃ é ü", "tab\tsep\nline")
    val real = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val docs = real ++ short.zipWithIndex.map { case (t, i) => (1000000L + i, t, "en") }
    val sub = writeDocs("mhref", docs)
    val got = Dedup.minhashSignatures(spark, sub).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = docs.flatMap { case (id, t, _) => reference(t).map(id -> _) }.toMap
    assert(want.size > real.size) // the 3-token short docs sign too
    assert(!want.contains(1000002L) && want.contains(1000006L))
    assert(got == want)
  }

  // ------------------------------------------------------------ eval_minhash

  test("evalMinhash: set identities hold and the LSH index misses no true pair on sf0.001") {
    val r = Dedup.evalMinhash(spark, sf).collect()(0)
    val (nCand, nTruth, nHit) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(nHit <= nCand && nHit <= nTruth)
    assert(r.getLong(3) >= 0 && r.getLong(3) <= 1000)
    assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000)
    // 16 hashes / 4 bands at this shingle width: every exact-Jaccard dup
    // collides in some band on this corpus — recall is full
    assert(nHit == nTruth)
  }

  // ------------------------------------------------- randomized properties

  test("textWinnowing guarantee holds on randomized corpora") {
    val r = new scala.util.Random(1234)
    val vocab = (0 until 30).map(i => s"v$i")
    def randRun(n: Int) = Seq.fill(n)(vocab(r.nextInt(vocab.size))).mkString(" ")
    for (trial <- 0 until 3) {
      // any shared run of ≥ w+k−1 = 6 tokens must yield a common fingerprint
      val shared = randRun(6 + r.nextInt(5))
      val a = s"${randRun(5 + r.nextInt(10))} $shared ${randRun(5 + r.nextInt(10))}"
      val b = s"${randRun(5 + r.nextInt(10))} $shared ${randRun(5 + r.nextInt(10))}"
      val sub = writeDocs(s"winprop$trial", Seq((0L, a, "en"), (1L, b, "en")))
      val sel = TextAnalysis.winnowSelected(spark, sub).collect()
        .map(row => (row.getLong(0), row.getLong(3)))
      val h0 = sel.filter(_._1 == 0L).map(_._2).toSet
      val h1 = sel.filter(_._1 == 1L).map(_._2).toSet
      assert(h0.intersect(h1).nonEmpty, s"trial $trial: no shared fingerprint")
    }
  }

  test("bpeEncode randomized-corpus differential on a tiny cascading alphabet") {
    val r = new scala.util.Random(42)
    def greedyEncode(merges: Seq[(String, String)])(tok: String): Long = {
      var syms = tok.map(_.toString).toVector
      for ((a, b) <- merges) {
        val out = Vector.newBuilder[String]; var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += (a + b); i += 2 }
          else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    for (trial <- 0 until 2) {
      // 4-letter alphabet forces merge cascades (aa, abab, …) — the
      // adversarial case for the double-separator replace encoding
      def word = (0 to r.nextInt(5)).map(_ => "abcd" (r.nextInt(4))).mkString
      val docs = (0L until 5L).map(i =>
        (i, Seq.fill(8 + r.nextInt(20))(word).mkString(" "), "en"))
      val sub = writeDocs(s"bpeprop$trial", docs)
      val merges = TextAnalysis.bpeMerges(spark, sub).collect()
        .sortBy(_.getLong(0)).map(row => (row.getString(1), row.getString(2))).toSeq
      val expected = docs.map { case (id, text, _) =>
        id -> text.split("\\s+").map(greedyEncode(merges)).sum
      }.toMap
      val got = TextAnalysis.bpeEncode(spark, sub).collect()
        .map(row => row.getLong(0) -> row.getLong(3)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  // ------------------------------------------------------------- hll_native

  test("hllNative (TypedImperativeAggregate) matches the declarative HLL row for row; SQL surface works") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(rows(Sketches.hllNative(spark, sf)) == rows(Sketches.hllDistinct(spark, sf)))
    // the aggregate itself returns the raw 256-register array
    val regs = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(graft.functions.HllSketch.hllSketch(
        Tables.md5Long(col("user_id").cast("string"))).as("regs"))
    val collected = regs.select(size(col("regs")).as("n"),
                                expr("aggregate(regs, 0, (a, r) -> greatest(a, r))").as("mx"))
      .collect()
    assert(collected.length == 5)
    assert(collected.forall(r => r.getInt(0) == 256 && r.getInt(1) >= 1 && r.getInt(1) <= 53))
  }

  // -------------------------------------------------------- mix_temperature

  test("mixTemperature flattens the language distribution without upsampling") {
    val rows = Sampling.mixTemperature(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    for ((_, nDocs, nKept, _, _) <- rows) assert(nKept <= nDocs) // downsample-only
    val before = rows.map(_._4)
    val after = rows.map(_._5)
    assert(after.max - after.min < before.max - before.min) // α=1/2 flattens
    // the rarest language gains relative share; the dominant one loses
    val rarest = rows.minBy(_._4); val dominant = rows.maxBy(_._4)
    assert(rarest._5 >= rarest._4 && dominant._5 <= dominant._4)
  }

  // --------------------------------------------------------- eval_retrieval

  test("evalRetrieval: metric identities, and brute force scored against itself is perfect") {
    val rows = Similarity.evalRetrieval(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getLong(4)))
    assert(rows.length == 8)
    for ((_, ov, recall, br, mrr) <- rows) {
      assert(recall == ov * 200) // k = 5
      assert(ov >= 0 && ov <= 5)
      assert((br == 0 && mrr == 0) || (br >= 1 && mrr == 1000 / br))
    }
    // self-eval sanity: the brute-force list trivially contains its own best
    val bf = Similarity.annBruteforceTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQ = bf.groupBy(_._1)
    assert(byQ.values.forall(_.exists(_._2 == 1))) // every query has a rank-1
  }

  // ---------------------------------------------------------- events_cusum

  test("eventsCusum prefix-scan form equals the sequential CUSUM recurrence") {
    val rows = Events.eventsCusum(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    for ((_, series) <- rows.groupBy(_._1)) {
      val sorted = series.sortBy(_._2)
      val mu = sorted.head._4
      var s = 0L
      for ((_, _, x, muRow, cusum) <- sorted) {
        assert(muRow == mu) // one mu per series
        s = math.max(0L, s + x * 1000L - mu - mu / 4L)
        assert(s == cusum) // closed form == recurrence, hour by hour
      }
    }
  }

  // ------------------------------------------------------------ events_ewma

  test("eventsEwma equals a plain-Scala FIR over the zero-filled series") {
    val rows = Events.eventsEwma(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val weights = (0 until 12).map(i => math.round(math.pow(2.0, -i / 6.0) * 1000))
    for ((_, series) <- rows.groupBy(_._1)) {
      val sorted = series.sortBy(_._2)
      val xs = sorted.map(_._3)
      for (t <- sorted.indices) {
        val expected =
          (0 until 12).map(i => if (t - i >= 0) xs(t - i) * weights(i) else 0L).sum
        assert(sorted(t)._4 == expected, s"at index $t")
      }
    }
  }

  // ----------------------------------------------------- events_hll_sliding

  test("hllSliding: windowed sketch estimates track exact windowed distincts") {
    val rows = Sketches.hllSliding(spark, sf).collect()
      .map(r => (r.getLong(2), r.getDouble(5)))
    assert(rows.nonEmpty)
    // 256 registers on ≤ tens of distincts → the small-range ln path: tight
    for ((exact, est) <- rows)
      assert(math.abs(est - exact) <= math.max(1.0, 0.5 * exact))
  }

  // -------------------------------------------------------- stats_chi2_drift

  test("statsChi2Drift: verdict activates when categories correlate with the " +
       "slice; chi2_fp matches a BigInt twin") {
    import spark.implicits._
    val sub = s"$dir/chi2"
    // craft drift: the valid slice (hash bucket 80..89) sees only 'gamma';
    // the train slice alternates alpha/beta — a real distribution change
    val rows = (1L to 4000L).map { id =>
      val b = Tables.md5LongOf(s"graft_chi2_v1:$id".getBytes("UTF-8")) % 100
      val t = if (b < 80) (if (id % 2 == 0) "alpha" else "beta") else "gamma"
      (id, id * 1000000000L, id % 7, t, 1.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$sub/events.parquet")
    val r = Profiling.statsChi2Drift(spark, sub).collect()(0)
    assert(r.getAs[Boolean]("drifted"))
    assert(r.getAs[Long]("n_categories") == 3L)

    // BigInt twin of the exact per-term arithmetic
    val split = rows.map { case (id, _, _, t, _, _) =>
      val b = Tables.md5LongOf(s"graft_chi2_v1:$id".getBytes("UTF-8")) % 100
      (t, if (b < 80) "train" else if (b < 90) "valid" else "test")
    }.filter(_._2 != "test")
    val nTr = split.count(_._2 == "train").toLong
    val nVa = split.count(_._2 == "valid").toLong
    val expected = split.groupBy(_._1).values.map { g =>
      val oTr = g.count(_._2 == "train").toLong
      val oVa = g.count(_._2 == "valid").toLong
      val delta = BigInt(oTr) * nVa - BigInt(oVa) * nTr
      (delta * delta * 1000000) / (BigInt(oTr + oVa) * nTr * nVa)
    }.sum
    assert(BigInt(r.getAs[Long]("chi2_fp")) == expected)
    assert(r.getAs[Long]("n_train") == nTr && r.getAs[Long]("n_valid") == nVa)
  }

  // --------------------------------------------------------- text_span_dedup

  test("textSpanDedup: first occurrence wins globally; reassembly md5 is exact") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    // spans are 12 tokens; each doc below is exactly two spans.
    val s1 = (1 to 12).map(i => s"dup$i").mkString(" ")
    val s2 = (1 to 12).map(i => s"a$i").mkString(" ")
    val s3 = (1 to 12).map(i => s"b$i").mkString(" ")
    val sub = writeDocs("spandedup", Seq(
      (1L, s"$s1 $s2", "en"),  // first occurrence of the shared span
      (2L, s"$s1 $s3", "en"),  // drops it, keeps only s3
      (3L, s"$s3 $s3", "en"))) // within-doc dup: second copy drops too
    val rows = TextAnalysis.textSpanDedup(spark, sub).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
                                  r.getString(4)))).toMap
    assert(rows(1L) == ((2L, 2L, 0L, md5hex(s"$s1\n$s2"))))
    assert(rows(2L) == ((2L, 1L, 1L, md5hex(s3))))
    // doc 3's first s3 copy loses to doc 2's (doc_id 2 < 3): BOTH copies
    // drop and the reassembled text is empty
    assert(rows(3L) == ((2L, 0L, 2L, md5hex(""))))
  }

  // ------------------------------------------------------- dedup_suffix_array

  test("dedupSuffixArray: prefix-doubling ranks match a brute-force window " +
       "count on randomized 2-symbol corpora (forced 10-gram collisions)") {
    val rnd = new scala.util.Random(42)
    // 2-token vocabulary => only 1024 distinct 10-grams, so ~1000 windows
    // force plenty of genuine cross- and within-doc repeats; lengths 5..44
    // include docs below the window size (n_windows = 0 path)
    val docs = (1L to 40L).map { id =>
      val len = 5 + rnd.nextInt(40)
      (id, Seq.fill(len)(if (rnd.nextBoolean()) "aa" else "bb").mkString(" "),
       "en")
    }
    val sub = writeDocs("sufarr", docs)
    val got = Dedup.dedupSuffixArray(spark, sub).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // brute force: count every 10-token window globally, then per doc
    val wins = docs.map { case (id, text, _) =>
      id -> text.split("\\s+").toSeq.sliding(10).filter(_.size == 10).toSeq
    }
    val occ = wins.flatMap(_._2).groupBy(identity).map { case (w, os) => w -> os.size }
    val expected = docs.map { case (id, text, _) =>
      val n = text.split("\\s+").length.toLong
      val nWin = math.max(0L, n - 9)
      val nDup = wins.find(_._1 == id).get._2.count(w => occ(w) >= 2).toLong
      id -> ((nWin, nDup, if (nWin == 0) 0L else nDup * 1000000L / nWin))
    }.toMap
    assert(expected.values.map(_._2).sum > 0, "vacuous corpus: no repeats")
    assert(expected.values.exists(_._1 == 0), "no short-doc zero-window case")
    assert(got == expected)
  }

  test("doublingRound: rank2 + one doubling round ranks every position by " +
       "its 4-token prefix (class equality AND order vs brute force)") {
    val rnd = new scala.util.Random(13)
    val docs = (1L to 25L).map { id =>
      val len = 3 + rnd.nextInt(20) // includes docs shorter than 4 tokens
      (id, Seq.fill(len)(if (rnd.nextBoolean()) "aa" else "bb").mkString(" "),
       "en")
    }
    val sub = writeDocs("doubling", docs)
    import spark.implicits._
    // base case: bigram dense rank (same construction as the gated query)
    val d = Tables.t(spark, sub, "documents")
      .select(col("doc_id"), split(col("text"), "\\s+").as("ts"))
      .withColumn("n_toks", size(col("ts")).cast("long"))
    val bigram = d.select(col("doc_id"), col("n_toks"),
        posexplode(expr(
          """transform(ts, (tk, i) -> struct(
            |  tk AS ra,
            |  IF(i + 2 <= size(ts), concat('', element_at(ts, i + 2)), '') AS rb))"""
            .stripMargin)).as(Seq("off", "pr")))
      .select(col("doc_id"), col("n_toks"), col("off"),
              col("pr.ra"), col("pr.rb"))
    val rank2 = Dedup.classRank(bigram, "r")
      .select(col("doc_id"), col("n_toks"), col("off"), col("r"))
    val rank4 = Dedup.doublingRound(rank2, 2)
    val got = rank4.select(col("doc_id"), col("off"), col("r")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // brute force: dense rank of the (up to) 4-token prefix of every
    // suffix, truncated suffixes ordered by their padded string — the
    // prefix-doubling invariant after one round
    val toksOf = docs.map { case (id, text, _) => id -> text.split("\\s+").toSeq }.toMap
    val suffixes = toksOf.toSeq.flatMap { case (id, ts) =>
      ts.indices.map(p => (id, p, ts.slice(p, p + 4)))
    }
    // shorter prefixes sort before any extension (sentinel below all
    // tokens): compare by the padded sequence with "" sentinels
    val ordered = suffixes.map(_._3).distinct
      .sortBy(pfx => pfx.padTo(4, "").mkString(""))
    val rankOf = ordered.zipWithIndex.map { case (p, i) => p -> (i + 1L) }.toMap
    val expect = suffixes.map { case (id, p, pfx) => (id, p) -> rankOf(pfx) }.toMap
    assert(got == expect)
    assert(expect.values.toSet.size < suffixes.size, "vacuous: no merged classes")
  }

  test("classRank: two-pass distributed dense rank equals the global-window " +
       "dense rank, incl. duplicate classes spanning partition boundaries") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    // 2000 rows over 40×5 classes: every class repeats ~10×, so with 4
    // shuffle partitions plenty of class duplicates are separated from
    // their twins before the distinct, and adjacent classes straddle
    // range-partition boundaries
    val df = (1 to 2000)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(5).toLong))
      .toDF("ra", "rb").repartition(7)
    val got = Dedup.classRank(df, "r")
    val ref = df.withColumn("r",
      dense_rank().over(Window.orderBy(col("ra"), col("rb"))).cast("long"))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(got.collect().map(key).sorted.toSeq ==
           ref.select(col("ra"), col("rb"), col("r")).collect().map(key).sorted.toSeq)
    // the structural claim: the two-pass plan has NO Window operator at all
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "classRank must not fall back to a window-function rank")
  }

  // --------------------------------------------------------------- graph_bfs

  test("bfsOf: multi-source shortest hop distance with depth cutoff on a " +
       "crafted graph") {
    import spark.implicits._
    // path 0-1-2-3-4-5-6 plus a shortcut from the second seed: 100-3.
    // seeds (doc_id % 50 == 0) = {0, 100}
    val pairs = ((0L until 6L).map(i => (i, i + 1)) :+ (100L, 3L))
      .toDF("doc_a", "doc_b")
    val got = Graph.bfsOf(pairs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3 is one hop from seed 100 (not three from seed 0); 2 and 4 tie at
    // two hops; the chain tail is reached within the 4-hop cutoff
    assert(got == Map(0L -> 0, 100L -> 0, 1L -> 1, 3L -> 1,
                      2L -> 2, 4L -> 2, 5L -> 3, 6L -> 4))
  }

  // -------------------------------------------------------------- graph_sssp

  test("ssspOf: weighted min-cost paths — cheap 2-hop beats expensive " +
       "1-hop, hop bound cuts the chain tail") {
    import spark.implicits._
    // seed 0. Edge costs are 5 - n_bands: (0,1) weak (cost 4);
    // (0,2) and (2,1) strong (cost 1 each) -> node 1 costs 2 via node 2,
    // not 4 direct. Chain 0-10-11-12-13-14 of strong edges: node 13 sits
    // at 4 edges (cost 4, kept); node 14 at 5 edges (beyond the bound).
    val wpairs = (Seq((0L, 1L, 1L), (0L, 2L, 4L), (2L, 1L, 4L)) ++
        Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
          .map { case (a, b) => (a, b, 4L) })
      .toDF("doc_a", "doc_b", "n_bands")
    val got = Graph.ssspOf(wpairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 2L -> 1L, 1L -> 2L,
                      10L -> 1L, 11L -> 2L, 12L -> 3L, 13L -> 4L))
  }

  // ------------------------------------------- graph_label_propagation

  test("lpaOf: synchronous label propagation matches a plain-Scala replay " +
       "on a crafted clique+bridge graph (tie-break: max count, min label)") {
    import spark.implicits._
    // two 3-cliques {1,2,3} and {7,8,9} joined by a bridge 3-5-7, plus an
    // isolated edge 20-21: cliques must keep their min label, the bridge
    // node splits by the vote tie-break, the pair collapses to its min
    val raw = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L), (7L, 9L),
                  (8L, 9L), (3L, 5L), (5L, 7L), (20L, 21L))
    val got = Graph.lpaOf(raw.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // plain-Scala synchronous replay, 3 rounds, same tie-break
    val edges = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nbrs = edges.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lab: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      lab = nbrs.map { case (n, ns) =>
        val votes = ns.map(lab).groupBy(identity).map { case (l, os) => l -> os.size }
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    val sizes = lab.values.groupBy(identity).map { case (l, os) => l -> os.size.toLong }
    val expect = lab.map { case (n, l) => n -> (l, sizes(l)) }
    assert(got == expect)
    // activation: the crafted graph must actually exercise a contested
    // vote (a node whose neighbors disagree) and a multi-community split
    assert(expect.values.map(_._1).toSet.size >= 3, "vacuous: all one community")
    assert(lab(5L) == 1L || lab(5L) == 7L, "bridge node saw no contest")
  }

  // ----------------------------------------------------------- graph_kcore

  test("kcoreOf: 3-core peeling keeps the clique, sheds pendant chains — " +
       "plain-Scala synchronous-peel replay on a crafted graph") {
    import spark.implicits._
    // K4 {1,2,3,4} (deg 3 each: survives 3-core) with a pendant chain
    // 4-10-11 (peels: 11 then 10), a triangle {20,21,22} (deg 2: peels
    // entirely under k=3), and a K4 missing one edge {30,31,32,33}
    // without (32,33): degs 3,3,2,2 -> 32/33 peel, then 30/31 drop to 2
    // -> whole cluster peels. Only the true K4 survives.
    val raw = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
                  (4L,10L),(10L,11L),
                  (20L,21L),(20L,22L),(21L,22L),
                  (30L,31L),(30L,32L),(30L,33L),(31L,32L),(31L,33L))
    val got = Graph.kcoreOf(raw.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain-Scala synchronous replay: 3 peels + final in-subgraph degree
    val edges = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    var alive = edges.map(_._1).toSet
    def degs(a: Set[Long]) = edges.filter(e => a(e._1) && a(e._2))
      .groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    for (_ <- 1 to 3) alive = degs(alive).filter(_._2 >= 3).keySet
    val expect = degs(alive).filter(_._2 >= 3)
    assert(got == expect)
    assert(got.keySet == Set(1L, 2L, 3L, 4L), "only the K4 should survive")
    assert(got.values.forall(_ == 3L))
  }

  // ------------------------------------------------------------ events_trend

  test("eventsTrend: recovers an exact planted line (slope 2, intercept 3)") {
    import spark.implicits._
    val sub = s"$dir/trend"
    // hour x carries exactly y = 3 + 2x events, x = 0..9
    val rows = for {
      x <- 0 until 10
      i <- 0 until (3 + 2 * x)
    } yield (x * 1000L + i, x * 3600L * 1000000000L, i.toLong, "planted", 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$sub/events.parquet")
    val r = Events.eventsTrend(spark, sub).collect()(0)
    assert(r.getAs[Long]("n_points") == 10L)
    assert(r.getAs[Long]("n_events") == (0 until 10).map(3 + 2 * _).sum.toLong)
    assert(r.getAs[Double]("slope_per_hour") == 2.0) // exact: integer moments
    assert(r.getAs[Double]("intercept") == 3.0)
    assert(r.getAs[Boolean]("rising"))
  }

  // --------------------------------------------------------- ann_ivfpq_topk

  test("annIvfpqTopk: every candidate comes from a probed inverted list; " +
       "shape is NumQueries x K") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val labelOf = emb.map(e => e._1 -> e._2).toMap
    // coarse centroids exactly as both engines build them: per-label
    // element-wise quantized-integer means (order-free BIGINT sums)
    val cents: Map[Int, Array[Double]] = emb.groupBy(_._2).map { case (l, rs) =>
      val d = rs.head._3.length
      l -> Array.tabulate(d) { i =>
        rs.map(r => math.floor(r._3(i) * 1e6).toLong).sum.toDouble /
          (rs.length.toDouble * 1e6)
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // per-query probe set: top-2 labels by <q, centroid>, ties to the
    // smaller label — the coarse stage of the operator, re-derived
    val probes: Map[Long, Set[Int]] = emb.filter(_._1 < 8).map { case (q, _, qv) =>
      q -> cents.toSeq.map { case (l, cv) => (l, dot(qv, cv)) }
        .sortBy { case (l, ip) => (-ip, l) }.take(2).map(_._1).toSet
    }.toMap
    val out = Similarity.annIvfpqTopk(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).distinct.length == 8)
    for ((q, rows) <- out.groupBy(_._1)) {
      assert(rows.map(_._2).sorted.toSeq == (1 to 5), s"ranks for q$q")
      for ((_, _, nb, _) <- rows) {
        assert(nb != q)
        assert(probes(q).contains(labelOf(nb)),
          s"q$q neighbor $nb label ${labelOf(nb)} outside probed ${probes(q)}")
      }
    }
  }

  // ------------------------------------------------- centroid forms agree

  test("trainCents (collected, keyed by cluster) and labelCentroids " +
       "(DataFrame) give bit-identical cv and cn per label") {
    // annKmeansTopk seeds its Lloyd loop from the collected form; the IVF
    // queries and evalClustering read the DataFrame form — one mean
    val c = Similarity.corpus(spark, sf)
    def bits(cv: Seq[Double], cn: Double): (Seq[Long], Long) =
      (cv.map(java.lang.Double.doubleToRawLongBits),
       java.lang.Double.doubleToRawLongBits(cn))
    val collected = Similarity
      .trainCents(c.select(col("label").as("cluster"), col("v")))
      .map(ct => ct.cluster -> bits(ct.cv, ct.cn)).toMap
    val frame = Similarity.labelCentroids(c).collect()
      .map(r => r.getInt(0).toLong -> bits(r.getSeq[Double](1), r.getDouble(2)))
      .toMap
    assert(collected.size >= 2 && collected.values.forall(_._1.length == 64))
    assert(collected == frame)
  }

  // --------------------------------------------------------- quantile_sketch

  test("quantileSketch: every rank verdict holds, estimates are monotone, " +
       "and the sketch equals the plain-Scala bottom-k twin") {
    val out = Sketches.quantileSketch(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3),
                 r.getBoolean(4)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1, 5, 25, 50, 75, 95, 99))
    assert(out.forall(_._5), s"rank verdicts: ${out.mkString(", ")}")
    // sample quantiles of one sorted sample are monotone by construction —
    // pin it as the user-visible law
    assert(out.map(_._2).toSeq == out.map(_._2).sorted.toSeq)

    // exact twin: the same salted bottom-256 sample and rank arithmetic in
    // plain Scala over the collected table
    val evs = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id").cast("string"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    val samp = evs
      .map { case (id, v) =>
        (Tables.md5LongOf(s"graft_qsk_v1:$id".getBytes("UTF-8")), v) }
      .sortBy(identity).take(256).map(_._2).sorted
    val n = evs.length.toLong
    for ((pct, est, targetPm, rankPm, _) <- out) {
      val expectEst = samp(math.ceil(pct / 100.0 * 256).toInt - 1)
      assert(est == expectEst, s"estimate for p$pct")
      assert(targetPm == pct * 10L)
      assert(rankPm == evs.count(_._2 <= est) * 1000L / n, s"rank for p$pct")
    }
  }

  // --------------------------------------------------------------- graph_hits

  test("hitsOf: integer HITS replay on a crafted bipartite graph — " +
       "hub mass concentrates on the authority-heavy user") {
    import spark.implicits._
    // user 3 does all its volume on y (the dominant type); user 2 only
    // touches the minority type x; user 1 splits. Replayed exactly in
    // plain Scala with the same 1e6-unit floor divisions.
    val raw = Seq((1L, "x", 3L), (1L, "y", 1L), (2L, "x", 2L),
                  (3L, "y", 5L), (3L, "z", 1L))
    val got = Graph.hitsOf(raw.toDF("u", "i", "w")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // plain-Scala synchronous replay (2 rounds, scale 1e6, floor div —
    // all values positive so Long./ is the floor)
    val Scale = 1000000L
    var hub = raw.map(_._1).distinct.map(_ -> 1L).toMap
    for (_ <- 1 to 2) {
      val ar = raw.groupBy(_._2).map { case (i, es) =>
        i -> es.map(e => hub(e._1) * e._3).sum }
      val at = ar.values.sum
      val auth = ar.map { case (i, s) => i -> s * Scale / at }
      val hr = raw.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => auth(e._2) * e._3).sum }
      val ht = hr.values.sum
      hub = hr.map { case (u, s) => u -> s * Scale / ht }
    }
    val nTypes = raw.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    assert(got == hub.map { case (u, h) => u -> (nTypes(u), h) })
    // structure check: user 3 (all mass on the dominant authority y)
    // must out-hub user 2 (minority type only)
    assert(got(3L)._2 > got(1L)._2 && got(1L)._2 > got(2L)._2)
  }

  // ----------------------------------------------------- ann_hard_negatives

  test("annHardNegatives: the near-identical OTHER-label vector ranks " +
       "first; same-label twins are never mined") {
    import spark.implicits._
    val sub = s"$dir/hardneg"
    def e(is: (Int, Float)*): Array[Float] = {
      val a = Array.fill(4)(0.0f); is.foreach { case (i, s) => a(i) = s }; a
    }
    Seq(
      (0L, e(0 -> 1.0f), 0),              // the query
      (1L, e(0 -> 1.0f), 0),              // exact twin, SAME label -> excluded
      (2L, e(1 -> 1.0f), 0),              // same label -> excluded
      (6L, e(0 -> 0.9f, 1 -> 0.1f), 1),   // near-dup, OTHER label -> the hard negative
      (8L, e(1 -> 1.0f), 1),              // orthogonal negative
      (9L, e(2 -> 1.0f), 2))              // orthogonal negative, third label
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    val rows = Similarity.annHardNegatives(spark, sub).collect()
      .filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Int]("rnk"))
    // only other-label vectors are mined, labels reported faithfully
    assert(rows.forall(r => r.getAs[Int]("neg_label") != r.getAs[Int]("q_label")))
    assert(rows.forall(_.getAs[Int]("q_label") == 0))
    val ids = rows.map(_.getAs[Long]("neg_id")).toSeq
    assert(!ids.contains(1L) && !ids.contains(2L), s"same-label leaked: $ids")
    // the boundary vector is the top hard negative, orthogonals follow
    assert(ids.take(3) == Seq(6L, 8L, 9L))
    assert(rows.head.getAs[Double]("cos") > 0.99)
  }

  // -------------------------------------------------------- eval_clustering

  test("evalClustering: plain-Scala silhouette replay; the misassigned " +
       "vector drives its label's negative count") {
    import spark.implicits._
    val sub = s"$dir/silh"
    def e(i: Int, s: Float = 1.0f): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(i) = s; a
    }
    // label 0 = axis-0 cluster with one vector that actually sits on
    // axis 1 (misassigned); label 1 = tight axis-1 cluster. All values
    // exact binary fractions so quantization has no edge cases.
    val vecs = Seq(
      (1L, e(0), 0), (2L, e(0, 0.5f), 0), (3L, e(1), 0),
      (4L, e(1), 1), (5L, e(1, 0.25f), 1))
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    val got = Similarity.evalClustering(spark, sub).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    // exact replay: quantized centroid means, strict L2R dots
    val byLabel = vecs.groupBy(_._3)
    val cents = byLabel.map { case (l, vs) =>
      val cv = (0 until 4).map(i => vs.map(v =>
        math.floor(v._2(i).toDouble * 1e6)).sum / (vs.size * 1e6)).toArray
      l -> (cv, math.sqrt(cv.zip(cv).map { case (a, b) => a * b }
        .foldLeft(0.0)(_ + _)))
    }
    def dist(v: Array[Float], l: Int): Double = {
      val (cv, cn) = cents(l)
      val dv = v.map(_.toDouble)
      val nrm = math.sqrt(dv.zip(dv).map { case (a, b) => a * b }
        .foldLeft(0.0)(_ + _))
      1.0 - dv.zip(cv).map { case (a, b) => a * b }
        .foldLeft(0.0)(_ + _) / (nrm * cn)
    }
    val sFp = vecs.map { case (_, v, l) =>
      val da = dist(v, l)
      val db = cents.keys.filter(_ != l).map(dist(v, _)).min
      l -> math.round((db - da) / math.max(da, db) * 1e6)
    }
    val expect = sFp.groupBy(_._1).map { case (l, ss) =>
      l -> ((ss.size.toLong,
             BigDecimal(ss.map(_._2).sum / 1e6 / ss.size)
               .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
             ss.count(_._2 < 0).toLong))
    }
    assert(got == expect)
    assert(got(0)._3 == 1L && got(1)._3 == 0L) // vec 3 is the misassignment
    assert(got(1)._2 > 0.5)                    // tight cluster scores high
  }

  test("evalClustering: degenerate geometry (a zero OTHER centroid, k=2) " +
       "pins every silhouette to 0 — the NaN sentinel never leaks +1e6") {
    import spark.implicits._
    val sub = s"$dir/silhdegen"
    def e(i: Int, s: Float): Array[Float] = {
      val a = Array.fill(4)(0.0f); a(i) = s; a
    }
    // label 1's two vectors cancel: its quantized centroid is exactly the
    // zero vector (cn = 0), so EVERY distance to it is 0/0 = NaN. With
    // k=2 that NaN is the only other-centroid distance for label 0 — the
    // case where a Double.MaxValue own-label sentinel in least() would
    // survive and leak s_fp ~ +1e6 on the Spark side while DuckDB's
    // NULL-excluded MIN returns NaN and pins 0. The NaN sentinel makes
    // both engines pin every row.
    Seq((1L, e(0, 1.0f), 0), (2L, e(0, 0.5f), 0),
        (3L, e(1, 1.0f), 1), (4L, e(1, -1.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    val got = Similarity.evalClustering(spark, sub).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == Map(0 -> ((2L, 0.0, 0L)), 1 -> ((2L, 0.0, 0L))))
  }

  // ----------------------------------------------------------- events_kanon

  test("eventsKanon: hour cells release at k; failing cells generalize to " +
       "day and release or suppress by the MERGED distinct-user count") {
    import spark.implicits._
    val sub = s"$dir/kanon"
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, seconds
    def ns(offSec: Long) = (base + offSec) * 1000000000L
    def U(u: Long): java.lang.Long = java.lang.Long.valueOf(u)
    val evs: Seq[(Long, Long, java.lang.Long, String, Double, String)] =
      // type x, hour 00: five distinct users -> released at hour level;
      // plus one NULL-user event — counted in n_events, NOT in n_users
      // (matching countDistinct / the oracle's COUNT(DISTINCT user_id))
      (0 until 5).map(u =>
        (u.toLong, ns(u * 60L), U(u.toLong), "x", 1.0, "{}")) ++
      Seq((99L, ns(300L), null.asInstanceOf[java.lang.Long], "x", 1.0, "{}")) ++
      // type x, hours 01 and 02: 2+2 users, all on 2024-01-01 -> both fail,
      // day merge has only 4 distinct users -> SUPPRESSED day row
      Seq((10L, ns(3600), U(10L), "x", 1.0, "{}"),
          (11L, ns(3660), U(11L), "x", 1.0, "{}"),
          (12L, ns(7200), U(12L), "x", 1.0, "{}"),
          (13L, ns(7260), U(13L), "x", 1.0, "{}")) ++
      // type y, 2024-01-02 hours 05 and 06: 3+3 users sharing user 22 ->
      // both hours fail, day merge reaches exactly k=5 -> RELEASED day row
      Seq((20L, ns(86400 + 5 * 3600), U(20L), "y", 1.0, "{}"),
          (21L, ns(86400 + 5 * 3600 + 60), U(21L), "y", 1.0, "{}"),
          (22L, ns(86400 + 5 * 3600 + 120), U(22L), "y", 1.0, "{}"),
          (23L, ns(86400 + 6 * 3600), U(22L), "y", 1.0, "{}"),
          (24L, ns(86400 + 6 * 3600 + 60), U(23L), "y", 1.0, "{}"),
          (25L, ns(86400 + 6 * 3600 + 120), U(24L), "y", 1.0, "{}"))
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$sub/events.parquet")
    val got = Events.eventsKanon(spark, sub).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
                (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got == Map(
      ("x", "2024-01-01 00:00", "hour") -> ((6L, 5L, true)),
      ("x", "2024-01-01", "day")        -> ((4L, 4L, false)),
      ("y", "2024-01-02", "day")        -> ((6L, 5L, true))))
  }

  // ------------------------------------------------------ text_vocab_growth

  test("textVocabGrowth: new-type deciles and cumulative curve match a " +
       "hand-computed corpus; saturated deciles emit zero, not nothing") {
    import spark.implicits._
    // 10 docs -> one per decile. Vocabulary saturates after doc 3.
    val texts = Seq("a b", "a c", "b c a", "d", "a a", "b", "c d", "a",
                    "b c", "d a")
    val sub = writeDocs("vg", texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en") })
    val rows = TextAnalysis.textVocabGrowth(spark, sub).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4)))
    val nTok = texts.map(_.split("\\s+").count(_.nonEmpty).toLong)
    val newT = Array.fill(10)(0L)
    val seen = collection.mutable.Set[String]()
    texts.zipWithIndex.foreach { case (t, i) =>
      t.split("\\s+").filter(_.nonEmpty).foreach { w =>
        if (seen.add(w)) newT(i) += 1 } }
    var (ct, cy) = (0L, 0L)
    val expect = (0 until 10).map { i =>
      ct += nTok(i); cy += newT(i)
      (i.toLong, nTok(i), newT(i), ct, cy)
    }
    assert(rows.toSeq == expect)
    assert(rows.map(_._3).count(_ == 0L) >= 4) // saturation rows present
    assert(rows.last._5 == 4L) // vocabulary is exactly {a,b,c,d}
  }

  // ------------------------------------------------------ ann_filtered_topk

  test("annFilteredTopk: strict pre-filter — only lang='fr' neighbors, " +
       "nearer non-matching vectors excluded, exact ranking among allowed") {
    import spark.implicits._
    val sub = s"$dir/filtered"
    val langs = Map(0L -> "en", 1L -> "fr", 2L -> "en", 3L -> "fr",
                    4L -> "fr", 5L -> "en", 6L -> "fr", 7L -> "en",
                    8L -> "fr", 9L -> "en")
    langs.toSeq.sortBy(_._1)
      .map { case (id, l) => (id, s"doc $id", l, "synthetic", 6L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$sub/documents.parquet")
    def e(is: Int*): Array[Float] = {
      val a = Array.fill(4)(0.0f); is.foreach(i => a(i) = 1.0f); a
    }
    // two labels only, so NProbe=2 probes everything and the expected
    // ranking is brute force over the allowed set (the probe machinery
    // itself is pinned by the annIvfTopk specs — shared ivfProbes code)
    Seq(
      (0L, e(0), 0),          // the query under scrutiny
      (1L, e(0), 0),          // fr: exact twin -> rank 1, cos 1
      (2L, { val a = e(0); a(1) = 0.05f; a }, 0), // en: nearer than 3 but FILTERED
      (3L, e(0, 1), 0),       // fr: 45 degrees, cos 1/sqrt(2)
      (4L, e(1), 1),          // fr: orthogonal, cos 0
      (5L, { val a = e(0); a.map(_ * 2f) }, 0),   // en: cos 1 but FILTERED
      (6L, e(0, 2), 1),       // fr: 45 degrees, ties 3 -> id break after 3
      (7L, e(3), 1),          // en
      (8L, { val a = e(0); a.map(-_) }, 0),       // fr: cos -1, last
      (9L, e(2), 1))          // en
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    val rows = Similarity.annFilteredTopk(spark, sub).collect()
    val fr = langs.filter(_._2 == "fr").keySet
    assert(rows.forall(r => fr(r.getAs[Long]("neighbor_id"))),
           "every neighbor must satisfy the predicate")
    val q0 = rows.filter(_.getAs[Long]("q_id") == 0L)
      .sortBy(_.getAs[Int]("rnk"))
      .map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("neighbor_id")))
    assert(q0.toSeq == Seq(1 -> 1L, 2 -> 3L, 3 -> 6L, 4 -> 4L, 5 -> 8L))
    val cosByRnk = rows.filter(_.getAs[Long]("q_id") == 0L)
      .map(r => r.getAs[Int]("rnk") -> r.getAs[Double]("cos")).toMap
    assert(math.abs(cosByRnk(1) - 1.0) < 1e-12)
    assert(math.abs(cosByRnk(2) - 1.0 / math.sqrt(2)) < 1e-12)
    assert(math.abs(cosByRnk(2) - cosByRnk(3)) < 1e-15) // exact tie, id break
  }

  // ------------------------------------------------------ embed_pca_project

  test("embedPcaProject: projection replays the integer power iteration " +
       "and ranks the dominant-axis vectors first") {
    import spark.implicits._
    val sub = s"$dir/pca"
    // 4 vectors hug axis 0 (the dominant direction), 1 sits on axis 1,
    // 1 mixes in a negative axis-0 component
    val vecs = Seq(
      1L -> Array(1.0f, 0.1f, 0.0f),
      2L -> Array(0.9f, -0.1f, 0.1f),
      3L -> Array(1.1f, 0.0f, -0.1f),
      4L -> Array(0.95f, 0.05f, 0.05f),
      5L -> Array(0.0f, 1.0f, 0.2f),
      6L -> Array(-0.8f, 0.1f, 0.3f))
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    val got = Similarity.embedPcaProject(spark, sub).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // plain-Scala replay: quantize, Gram, 3 power rounds with truncated
    // division (BigInt `/` truncates toward zero, like DuckDB `//`)
    val q = vecs.map(_._2.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val g = Array.tabulate(3, 3)((i, j) => q.map(v => v(i) * v(j)).sum)
    var v = Array.fill(3)(BigInt(1000000L))
    for (_ <- 1 to 3) {
      val w = Array.tabulate(3)(i => (0 until 3).map(j => BigInt(g(i)(j)) * v(j)).sum)
      val m = w.map(_.abs).max
      v = w.map(x => x * 1000000L / m)
    }
    val expect = vecs.map { case (id, _) => id }.zip(
      q.map(qv => (0 until 3).map(i => qv(i) * v(i).toLong).sum)).toMap
    assert(got == expect)
    // the direction is dominated by axis 0: axis-0 vectors project with
    // large |pc1|, the axis-1 vector small, the negated vector negative
    assert(got(5L).abs < got(1L).abs && got(6L).sign != got(1L).sign)
  }

  // --------------------------------------------------------------- embed_gram

  test("embedGram: quantized Gram cells equal the plain-Scala double loop") {
    import spark.implicits._
    val sub = s"$dir/gram"
    val vecs = Seq(
      1L -> Array(0.5f, -0.25f, 0.1f),
      2L -> Array(-0.3f, 0.2f, 0.9f),
      3L -> Array(0.0f, 0.75f, -0.6f))
    vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")
    val got = Similarity.embedGram(spark, sub).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
                (r.getLong(2), r.getLong(3))).toMap
    val q = vecs.map(_._2.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong))
    val expect = (for { i <- 0 to 2; j <- i to 2 } yield
      (i.toLong, j.toLong) ->
        (vecs.size.toLong, q.map(v => v(i) * v(j)).sum)).toMap
    assert(got == expect)
    // diagonal of an exact Gram is the quantized squared norms
    assert(got((0L, 0L))._2 == q.map(v => v(0) * v(0)).sum)
  }
}
