package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Temporal-luminance video near-dup detection (the sixth detector
  * family). Gates:
  *  - margins measured BOTH sides (the MmAudioSpec discipline): a
  *    re-encoded + trimmed copy's best-alignment mean |Δluminance|
  *    stays ≤ 3 over 60 seeds (JPEG requantization is ±3/255 per
  *    uniform frame — tol = 3 IS that lemma bound since r12; the r11
  *    midpoint tol = 8 let the random floor's extreme tail through
  *    at 100k-clip scale), while distinct clips' floor stays ≥ 15
  *    (short ≥6-frame overlaps pull the min well under the ~85
  *    full-length mean);
  *  - the DETERMINISTIC candidate guarantee: original and copy share
  *    at least minShared = 2 distinct (band, key) entries for every
  *    seed — the shifted-grid lemma (every surviving window matches
  *    under the aligned gridmask, and the r12 boundary-aware
  *    emission always includes that mask on both sides), not a
  *    banding probability; plus the emission budget itself (≈ 3.6
  *    masks/window expected vs the old 16 — the 25.9 GB band shuffle
  *    was ~99% of the 100k-clip wall);
  *  - corrupt containers drop out instead of throwing;
  *  - the registered query finds every planted trimmed re-encode;
  *  - maintainer ≡ batch with a cross-tick copy.
  */
class MmVideoSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def levelsOf(payload: Array[Byte]): Array[Int] =
    Multimodal.demuxAvi(payload)
      .map(f => math.round(Multimodal.frameBrightness(f) * 255f)).toArray

  /** Scala twin of the operator's alignDiff expression (offsets
    * −3..3, overlap ≥ 6 — the r12 minOverlap).
    */
  private def alignDiff(a: Array[Int], b: Array[Int]): Double =
    (-3 to 3).map { o =>
      val (xa, yb) = if (o >= 0) (a.drop(o), b) else (a, b.drop(-o))
      val n = math.min(xa.length, yb.length)
      if (n < 6) 1.0e9
      else (0 until n).map(i => math.abs(xa(i) - yb(i))).sum.toDouble / n
    }.min

  test("margins: re-encode+trim drift <= 3 = tol (the lemma bound); distinct-clip floor >= 15") {
    val seeds = 0L until 60L
    val lv = seeds.map(s => s -> levelsOf(Multimodal.makeAvi(s))).toMap
    seeds.foreach { s =>
      val copy = levelsOf(Multimodal.reencodeTrimAvi(Multimodal.makeAvi(s), trim = 2))
      val d = alignDiff(lv(s), copy)
      assert(d <= 3.0, s"seed $s dup-class diff $d")
      assert(!java.util.Arrays.equals(lv(s), copy)) // genuinely mutated
    }
    val cross = for (i <- seeds; j <- seeds; if i < j) yield alignDiff(lv(i), lv(j))
    assert(cross.min >= 15.0, s"distinct floor ${cross.min}")
  }

  test("deterministic candidates: original and trimmed re-encode share >= 2 distinct band keys for every seed") {
    import spark.implicits._
    val seeds = 0L until 60L
    val rows = seeds.flatMap { s =>
      val orig = Multimodal.makeAvi(s)
      Seq((s, orig), (s + 10000000L, Multimodal.reencodeTrimAvi(orig, 2)))
    }.toDF("doc_id", "payload")
    val bands = Multimodal.videoBands(Multimodal.videoLevelRows(rows))
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).toSet }
    seeds.foreach { s =>
      val shared = bands(s).intersect(bands(s + 10000000L))
      // the r12 candidate gate needs >= minShared = 2 distinct
      // (band, key) entries; the shifted-grid lemma delivers far more
      // (every surviving window under the aligned mask — which the
      // boundary-aware emission is guaranteed to include both sides)
      assert(shared.size >= 2,
        s"seed $s: ${shared.size} shared window keys — the grid guarantee broke")
    }
  }

  test("boundary-aware emission: band rows well under the 16-mask blow-up, never over it") {
    import spark.implicits._
    val seeds = 0L until 60L
    val rows = seeds.map(s => (s, Multimodal.makeAvi(s))).toDF("doc_id", "payload")
    val lv = Multimodal.videoLevelRows(rows)
    val windows = lv.select(sum(size(col("levels")) - lit(4))).head.getLong(0)
    val emitted = Multimodal.videoBands(lv).count()
    // hard ceiling: never more masks than the full 16-way product
    assert(emitted <= 16L * windows, s"$emitted band rows over $windows windows")
    // the measured point of the optimization: expected (1+12/32)^4 ≈
    // 3.6 masks/window on avalanche-uniform deltas — gate at ≤ 6 to
    // leave margin while pinning the ~4.5× reduction
    assert(emitted <= 6L * windows,
      s"boundary-aware emission regressed: ${emitted.toDouble / windows} masks/window")
  }

  test("corrupt containers drop out of the row store, not the task") {
    import spark.implicits._
    val rows = Multimodal.videoLevelRows(Seq(
      (1L, Multimodal.makeAvi(1L)),
      (2L, Array[Byte](1, 2, 3)),
      (3L, Array.empty[Byte])).toDF("doc_id", "payload"))
      .collect().map(_.getLong(0)).toSet
    assert(rows === Set(1L))
  }

  test("registered mm_video_dedup finds every planted trimmed re-encode") {
    val pairs = Multimodal.videoDups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0))
    val planted = ids.filter(_ % 10 == 2)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(pairs.contains((id, id + 10000000L)), s"planted copy of $id missed") }
  }

  test("video maintainer: seed ∪ tick ≡ batch, cross-tick trimmed copy found") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("videofp_mv").toString
    val rowsDir = root + "/rows"; val bandDir = root + "/bands"
    val pairsDir = root + "/pairs"

    val seeds = Seq(1L, 3L, 5L, 7L)
    val seed = seeds.map(s => s -> Multimodal.makeAvi(s))
    var corpus = seed
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("doc_id", "payload"),
      Multimodal.videoFpDetector(), rowsDir, bandDir, nBuckets = 64)

    val input = MemoryStream[ImgIngest] // (doc_id, payload) — shape-compatible
    val q = streaming.DocStream.startVideoNearDupMaintain(
      input.toDF(), rowsDir, bandDir, pairsDir, root + "/ckpt")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def maintained = pairsOf(spark.read.parquet(pairsDir))
    def batchNow = pairsOf(Multimodal.videoDupsOn(spark,
      corpus.toDF("doc_id", "payload").withColumn("mime", lit("video/avi"))
        .select(col("doc_id"), col("mime"), col("payload"))
        .as[graft.multimodal.MmAsset]))

    // tick: doc 100 is a trimmed re-encode of SEED doc 3
    val copy = Multimodal.reencodeTrimAvi(Multimodal.makeAvi(3L), 2)
    input.addData(ImgIngest(100L, copy))
    corpus = corpus :+ (100L -> copy)
    q.processAllAvailable()
    q.stop()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 3L && p._2 == 100L))
  }
}
