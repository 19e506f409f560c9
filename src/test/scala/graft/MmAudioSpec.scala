package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spectral-fingerprint audio near-dup detection. Gates:
  *  - the invariance the operator's recall rests on: a gain-scaled
  *    re-encode (different bytes — byte dedup provably blind) moves
  *    the 128-bit fingerprint ≤ 2 bits (3 gains × 60 seeds), inside
  *    the default maxDist = 3 and far inside the 8-band pigeonhole
  *    recall guarantee (hamming ≤ 7);
  *  - discrimination: clips whose tone frequencies sit more than two
  *    band widths (> 64 Hz) apart stay ≥ 6 bits apart — strictly
  *    above maxDist;
  *  - rate independence: the same tone rendered at a different sample
  *    rate fingerprints nearby (Hz-space bands);
  *  - corrupt payloads fingerprint to None instead of throwing;
  *  - the registered query finds every planted gain-scaled copy.
  */
class MmAudioSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def ham128(a: Array[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  private def freqOf(seed: Long): Double =
    200.0 + math.floorMod(seed * 2654435761L, 1800L)

  test("fingerprint: gain-scale drift <= 2 bits; distinct tones (> 64 Hz apart) stay >= 6 apart") {
    val seeds = (0L until 120L).filter(_ % 2 == 1) // the corpus's audio ids
    val fps = seeds.map(s => s -> Multimodal.audioFingerprint(Multimodal.makeWav(s)).get)
    // both sides of the maxDist=3 margin, over three gains per seed:
    // dup-class drift tops out at 2, the distinct-tone floor at 6 —
    // the default threshold sits strictly between
    for (g <- Seq(0.25, 0.5, 0.8); (s, fp) <- fps) {
      val p = Multimodal.makeWav(s)
      val scaled = Multimodal.audioFingerprint(Multimodal.scaleWav(p, g)).get
      assert(ham128(fp, scaled) <= 2, s"seed $s gain $g drift ${ham128(fp, scaled)}")
      assert(!java.util.Arrays.equals(p, Multimodal.scaleWav(p, g)))
    }
    val cross = for {
      i <- fps.indices; j <- i + 1 until fps.size
      if math.abs(freqOf(fps(i)._1) - freqOf(fps(j)._1)) > 64.0
    } yield ham128(fps(i)._2, fps(j)._2)
    assert(cross.nonEmpty)
    assert(cross.min >= 6, s"cross floor ${cross.min}")
  }

  test("corrupt payload fingerprints to None, not an exception") {
    assert(Multimodal.audioFingerprint(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.audioFingerprint(Array.empty[Byte]).isEmpty)
  }

  test("registered mm_audio_dedup finds every planted gain-scaled copy") {
    val pairs = Multimodal.audioDups(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted ids are origin + 10000000 for odd doc_id % 10 == 1
    val clips = Multimodal.assets(spark, sf)
      .filter(col("mime") === lit("audio/wav"))
      .select("doc_id").collect().map(_.getLong(0))
    val planted = clips.filter(_ % 10 == 1)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(pairs.contains((id, id + 10000000L)), s"planted copy of $id missed") }
  }

  test("pair cap: emission-identical on diverse corpora; bounds a degenerate clump with the planted pair kept") {
    import spark.implicits._
    // diverse regime (the registered fixture): partners per clip ≪
    // the cap, so capped ≡ uncapped EXACTLY
    val clips = Multimodal.assets(spark, sf)
      .filter(col("mime") === lit("audio/wav"))
      .as[graft.multimodal.MmAsset]
    def pairSet(cap: Int) = Multimodal.audioDupsOn(spark, clips, maxPairsPerDoc = cap)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Multimodal.DefaultAudioPairCap) === pairSet(0))

    // degenerate regime: 300 clips of ONE tone (every pair legitimate
    // — O(n²) uncapped) + one gain-scaled plant of clip 0. cap=10
    // bounds emission near n·cap·2 while the plant — at the distance
    // floor of its source's list — must survive the cap
    val clump = (0L until 300L).map(i =>
      graft.multimodal.MmAsset(i, "audio/wav", Multimodal.makeWav(42L)))
    val plant = graft.multimodal.MmAsset(10000000L, "audio/wav",
      Multimodal.scaleWav(Multimodal.makeWav(42L), 0.5))
    val ds = spark.createDataset(clump :+ plant)
    val uncapped = Multimodal.audioDupsOn(spark, ds, maxPairsPerDoc = 0).count()
    assert(uncapped > 40000L, s"clump should explode uncapped, got $uncapped")
    val capped = Multimodal.audioDupsOn(spark, ds, maxPairsPerDoc = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.length <= 301 * 10 * 2,
      s"capped emission must be ≤ n·cap·2, got ${capped.length}")
    // union semantics keep the plant: clip 0 is the plant's closest
    // small-id partner (tie-break id asc), so the plant's own list
    // retains it even though 0's list is crowded by equal-distance ids
    assert(capped.contains((0L, 10000000L)), "planted pair lost to the cap")
  }

  test("audio maintainer: seed ∪ tick ≡ batch, cross-tick gain-scaled copy found") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("audiofp_mv").toString
    val fpDir = root + "/fp"; val bandDir = root + "/bands"; val pairsDir = root + "/pairs"

    val seeds = Seq(1L, 3L, 5L, 7L)
    val seed = seeds.map(s => s -> Multimodal.makeWav(s))
    var corpus = seed
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("doc_id", "payload"),
      Multimodal.audioFpDetector(), fpDir, bandDir, nBuckets = 64)

    val input = MemoryStream[ImgIngest] // (doc_id, payload) — shape-compatible
    val q = streaming.DocStream.startAudioNearDupMaintain(
      input.toDF(), fpDir, bandDir, pairsDir, root + "/ckpt")
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def maintained = pairsOf(spark.read.parquet(pairsDir))
    def batchNow = pairsOf(Multimodal.audioDupsOn(spark,
      corpus.toDF("doc_id", "payload").withColumn("mime", lit("audio/wav"))
        .select(col("doc_id"), col("mime"), col("payload"))
        .as[graft.multimodal.MmAsset]))

    // tick: doc 100 gain-scales SEED doc 1 (cross seed/tick pair)
    input.addData(ImgIngest(100L, Multimodal.scaleWav(Multimodal.makeWav(1L), 0.5)))
    corpus = corpus :+ (100L -> Multimodal.scaleWav(Multimodal.makeWav(1L), 0.5))
    q.processAllAvailable()
    q.stop()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 1L && p._2 == 100L))
  }
}
