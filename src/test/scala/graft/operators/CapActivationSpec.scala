package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.functions._

/**
 * The quadratic-edge guards (MinHash/SimHash bucket caps, Jaccard shingle
 * df-cap, embedding LSH sub-blocking) are deliberately INERT on the
 * driver testdata — the oracle gate proves they change nothing there.
 * This spec is the other half: synthetic degenerate corpora where each
 * guard ACTIVATES, asserting it actually suppresses the pathological
 * block while leaving healthy candidates untouched — i.e. the 100 TB
 * behavior, observed at test size. Corpora are written as parquet tables
 * in the driver layout so the public query entry points run unmodified.
 */
class CapActivationSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.TestSpark.spark
  private var dir: String = _

  override def beforeAll(): Unit =
    dir = java.nio.file.Files.createTempDirectory("graft_caps").toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(new java.io.File(dir))
  }

  /** Write a documents.parquet in the driver schema under dir/<name>/. */
  private def writeDocs(name: String, docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val sub = s"$dir/$name"
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
              lit("synthetic").as("source"), length(col("text")).as("n_chars"))
      .write.mode("overwrite").parquet(s"$sub/documents.parquet")
    sub
  }

  private def words(seed: Int, n: Int): String = {
    val r = new scala.util.Random(seed)
    (1 to n).map(_ => "w" + r.nextInt(5000)).mkString(" ")
  }

  test("MinHash bucket cap: a 300-identical-doc bucket is dropped; real near-dups survive") {
    // 300 byte-identical docs agree on every band -> bucket occupancy 300
    // > 256 -> the guard drops the bucket: ZERO pairs from the clones
    // (exact dedup's job, not LSH's). Two near-dup docs (one word edited)
    // share bands in a 2-occupant bucket -> their pair survives.
    val clone = words(1, 60)
    val base = words(2, 60)
    val docs = (0L until 300L).map(i => i -> clone) ++
               Seq(1000L -> base, 1001L -> (base.split(" ").init.mkString(" ") + " zzz"))
    val d = writeDocs("minhash_cap", docs)
    val q = Dedup.dedupMinhashLsh(spark, d)
    val pairs = q.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1000L, 1001L)),
      s"expected only the near-dup pair, got ${pairs.size} pairs: ${pairs.take(5)}")
    // each bucket's posting list stops retaining at cap + 1 ids, so the
    // 300-clone bucket never holds all 300 in one buffer
    val plan = q.queryExecution.executedPlan.toString
    assert(s"graft_collect_longs_capped\\(doc_id#\\d+L?, ${Dedup.MaxBucketDocs + 1},".r
      .findFirstIn(plan).nonEmpty, plan)
    assert(!plan.contains("collect_list"), plan)
  }

  test("SimHash bucket cap: a 300-clone prefix bucket is dropped; duplicates in small buckets survive") {
    // the survivor pair is byte-identical (Hamming 0, same bucket by
    // construction): single-table SimHash blocking has probabilistic
    // recall for EDITED docs (a one-word edit can flip a top-16 bit),
    // and this test pins the CAP's behavior, not LSH recall
    val clone = words(3, 80)
    val base = words(4, 80)
    val docs = (0L until 300L).map(i => i -> clone) ++
               Seq(2000L -> base, 2001L -> base)
    val d = writeDocs("simhash_cap", docs)
    val pairs = Dedup.dedupSimhashPairs(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the clones' bucket (occupancy 300 > 256) contributes nothing —
    // without the cap it alone would emit 300*299/2 = 44850 pairs
    assert(pairs == Set((2000L, 2001L)),
      s"expected only the duplicate pair, got ${pairs.size} pairs: ${pairs.take(5)}")
  }

  test("Jaccard df-cap: a boilerplate shingle shared by 150 docs produces no pairs") {
    // every doc in group A = unique filler + the SAME boilerplate tail;
    // the boilerplate shingles have df=150 > 128 and are df-capped out,
    // leaving A-docs with empty intersections -> no A-A pairs (without
    // the cap each shared shingle yields 150*149/2 join rows). B1/B2
    // differ by one word -> high Jaccard on ordinary shingles -> pair.
    val boiler = words(5, 12)
    val b1 = words(6, 40)
    val docs = (0L until 150L).map(i => i -> (words(100 + i.toInt, 20) + " " + boiler)) ++
               Seq(3000L -> b1, 3001L -> (b1.split(" ").init.mkString(" ") + " vvv"))
    val d = writeDocs("jaccard_cap", docs)
    val pairs = Dedup.dedupNgramJaccard(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3000L, 3001L)),
      s"expected only the B pair, got ${pairs.size} pairs: ${pairs.take(5)}")
  }

  test("embedding sub-blocking: an oversized label splits by LSH bucket; small labels stay all-pairs") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (r.nextFloat() - 0.5f) * 0.02f)
    // label 0: 1100 vectors (> 1024 -> sub-blocked) in two tight clusters
    // whose centers sit at cos ≈ 0.5 — ABOVE the 0.3 dup threshold, so a
    // label-only blocking would score and emit every cross-cluster pair;
    // the clusters land in different sign buckets, so sub-blocking must
    // exclude exactly those. label 1: 3 similar vectors (small label ->
    // all-pairs within the label regardless of bucket).
    val dirA = Array.fill(64)(r.nextFloat() - 0.5f)
    val g = Array.fill(64)(r.nextFloat() - 0.5f)
    val na2 = dirA.map(x => x * x).sum
    val proj = dirA.zip(g).map { case (a, x) => a * x }.sum / na2
    val orth = g.zip(dirA).map { case (x, a) => x - proj * a } // ⊥ dirA
    val no = math.sqrt(orth.map(x => x * x).sum)
    val scale = math.sqrt(na2).toFloat
    // dirB = cos60°·Â + sin60°·ô, rescaled to |dirA|  ⇒ cos(A,B) = 0.5
    val dirB = dirA.zip(orth).map { case (a, o) =>
      (0.5f * a / scale + (math.sqrt(0.75) / no * o).toFloat) * scale
    }
    val label0 = (0L until 1100L).map { i =>
      (i, jitter(if (i % 2 == 0) dirA else dirB).toSeq, 0)
    }
    val dirC = Array.fill(64)(r.nextFloat() - 0.5f)
    val label1 = (2000L until 2003L).map(i => (i, jitter(dirC).toSeq, 1))
    val sub = s"$dir/embed_block"
    (label0 ++ label1).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      .write.mode("overwrite").parquet(s"$sub/embeddings.parquet")

    val got = Similarity.dedupEmbedding(spark, sub)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // recompute the expected blocking in plain Scala from the published
    // planes: label 0 pairs require a shared sign bucket in SOME band
    // (multi-band OR); label 1 pairs need nothing
    def bucket(band: Int, v: Seq[Float]): Long =
      (0 until 8).map { j =>
        val p = Similarity.allPlanes(band * 8 + j)
        val dot = v.zip(p).map { case (x, h) => x.toDouble * h }.sum
        if (dot > 0) 1L << j else 0L
      }.sum
    def buckets(v: Seq[Float]): Seq[Long] =
      (0 until Similarity.NumBands).map(bucket(_, v))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      def d(x: Seq[Float], y: Seq[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      d(a, b) / math.sqrt(d(a, a) * d(b, b))
    }
    // the scenario is as designed: cluster centers at cos ≥ 0.3 yet in
    // different buckets in EVERY band (fixed seed -> deterministic)
    assert(cos(label0(0)._2, label0(1)._2) >= 0.3, "cluster centers drifted below threshold")
    assert(buckets(label0(0)._2).zip(buckets(label0(1)._2)).forall { case (x, y) => x != y },
      "cluster centers collided in some band")
    val all = (label0.map(t => (t._1, t._2, 0, buckets(t._2))) ++
               label1.map(t => (t._1, t._2, 1, Seq(-1L)))) // small label: one block
    val expected = (for {
      a <- all; b <- all
      if a._1 < b._1 && a._3 == b._3
      if a._4.zip(b._4).exists { case (x, y) => x == y } // OR over bands
      if cos(a._2, b._2) >= 0.3
    } yield (a._1, b._1)).toSet
    assert(got == expected)
    // within-cluster pairs survive (tight cluster -> every band agrees);
    // cross-cluster pairs above the cosine threshold are mostly excluded
    // (a pair escapes only if some band's 8 bits all agree across a 60°
    // angle) — label-only blocking would keep ALL of them
    val within = got.count { case (a, b) => a < 1100L && (a + b) % 2 == 0 }
    val cross = got.count { case (a, b) => a < 1100L && (a + b) % 2 == 1 }
    val totalCross = 550 * 550
    assert(within > 0)
    assert(cross < totalCross / 2,
      s"banded blocking excluded too few cross-cluster candidates: $cross of $totalCross")
    // and the small label pairs are present regardless of buckets
    assert(got.count { case (a, _) => a >= 2000L } == 3)
  }
}
