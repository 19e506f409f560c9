package graft

import graft.multimodal.Multimodal
import graft.operators.Similarity
import graft.streaming.{BucketStore, DocStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The continuous near-dup maintainer
  * ([[graft.streaming.DocStream.startNearDupMaintain]]): after EVERY
  * tick, seed pairs ∪ the per-batch pair log ≡ the batch MinHash+LSH
  * recompute over the corpus-so-far; cross-tick planted copies are
  * found (a tick doc pairing a SEED doc, and a tick doc pairing a
  * PREVIOUS tick's doc); and the bucketed stores advance with
  * touched-bucket I/O only — untouched bucket files byte-identical.
  */
class NearDupStoreSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark

  test("streaming near-dup maintenance equals batch recompute after every tick") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("neardup_mv").toString
    val sigDir = root + "/sig"
    val bandDir = root + "/bands"
    val pairsDir = root + "/pairs"

    // seed corpus: one near-dup pair inside the base (docs 1 ≈ 2),
    // the rest distinct. Texts are ≥ 3 words (sub-3-word docs have
    // empty shingle sets and belong to exact dedup, not similarity).
    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val seed = Seq(
      1L -> d1,
      2L -> d1.replace("tonight", "today"),
      3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      4L -> "another distinct document covering mountain hiking trails in early spring",
      5L -> "financial report third quarter revenue grew beyond expectations this year",
      6L -> "gardening tips for growing tomatoes indoors during the cold winter months")
    var corpus = seed
    graft.operators.Dedup.seedMinhashStores(spark,
      seed.toDF("doc_id", "text"), sigDir, bandDir, nBuckets = 64)
    val basePairs = graft.operators.Dedup
      .minhashLshOn(spark, seed.toDF("doc_id", "text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(basePairs.exists(p => p._1 == 1L && p._2 == 2L)) // planted base pair found

    val input = MemoryStream[DocIngest]
    val q = DocStream.startNearDupMaintain(
      input.toDF(), sigDir, bandDir, pairsDir, root + "/ckpt")

    def maintained = basePairs ++ spark.read.parquet(pairsDir)
      .select("doc_a", "doc_b", "est_jaccard", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    def batchNow = graft.operators.Dedup
      .minhashLshOn(spark, corpus.toDF("doc_id", "text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet

    // tick 1: doc 10 near-copies SEED doc 1 (cross seed/tick pair), doc
    // 11 is unique — plus a within-batch double delivery of doc 10
    val d10 = d1.replace("tonight", "tomorrow")
    input.addData(DocIngest(10L, d10), DocIngest(10L, d10),
      DocIngest(11L, "deep sea creatures glow in the dark abyss far below the surface"))
    corpus = corpus ++ Seq(10L -> d10,
      11L -> "deep sea creatures glow in the dark abyss far below the surface")
    q.processAllAvailable()
    val afterT1 = maintained
    assert(afterT1 === batchNow)
    assert(afterT1.exists(p => p._1 == 1L && p._2 == 10L)) // tick doc pairs a seed doc

    // tick 2: doc 12 near-copies TICK 1's doc 10 (the pair crosses two
    // ticks — neither side is a seed doc), doc 13 is unique
    val sigBefore = TestFiles.bucketFileHashes(spark, sigDir)
    val bandBefore = TestFiles.bucketFileHashes(spark, bandDir)
    val d12 = d10.replace("quick", "sly")
    input.addData(DocIngest(12L, d12),
      DocIngest(13L, "ancient library manuscripts preserved under glass in the museum hall"))
    corpus = corpus ++ Seq(12L -> d12,
      13L -> "ancient library manuscripts preserved under glass in the museum hall")
    q.processAllAvailable()
    q.stop()
    val afterT2 = maintained
    assert(afterT2 === batchNow)
    assert(afterT2.exists(p => p._1 == 10L && p._2 == 12L)) // cross-tick pair found

    // touched-bucket I/O: tick 2's sig-store changes live in buckets
    // pmod(12,64)=12 and pmod(13,64)=13 — every other sig bucket's
    // files must come through byte-identical, and the band store must
    // not have been fully rewritten (its touched buckets are the
    // delta's ≤ 2×16 band hashes)
    val sigAfter = TestFiles.bucketFileHashes(spark, sigDir)
    val sigUntouched = sigBefore.filter { case (p, _) =>
      !TestFiles.inBucket(p, 12) && !TestFiles.inBucket(p, 13) }
    assert(sigUntouched.nonEmpty)
    sigUntouched.foreach { case (p, h) => assert(sigAfter.get(p).contains(h)) }
    assert(sigAfter.keys.exists(TestFiles.inBucket(_, 12)))
    val bandAfter = TestFiles.bucketFileHashes(spark, bandDir)
    val bandUnchanged = bandBefore.filter { case (p, h) => bandAfter.get(p).contains(h) }
    assert(bandUnchanged.nonEmpty, "band store was fully rewritten by the tick")

    // O(delta) write pin (the applyAppendTick contract): tick 2's
    // stacked generation holds EXACTLY the delta — 2 signature rows
    // and 2×16 band rows — zero carry-over from the landed corpus
    assert(spark.read.parquet(s"$sigDir/gen-1").count() === 2L)
    assert(spark.read.parquet(s"$bandDir/gen-1").count() === 32L)
  }

  test("CDC tick: delete + re-ingest leave the stores ≡ a fresh seed of the mutated corpus; same-batch deletes never pair; replay no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("neardup_cdc").toString
    val det = graft.operators.Dedup.minhashDetector(spark, 0.5)
    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val d2 = d1.replace("tonight", "today")
    val seed = Seq(
      1L -> d1, 2L -> d2,
      3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      4L -> "another distinct document covering mountain hiking trails in early spring",
      5L -> "financial report third quarter revenue grew beyond expectations this year",
      6L -> "gardening tips for growing tomatoes indoors during the cold winter months")
    graft.operators.Dedup.seedNearDupStores(spark,
      seed.toDF("doc_id", "text"), det, s"$root/sig", s"$root/band", nBuckets = 64)

    // one CDC batch: DELETE doc 2 (the seed's planted pair partner),
    // UPSERT doc 5 to a near-copy of doc 1 (old signature must leave
    // the index, new one must pair), INSERT doc 20 with the DELETED
    // doc's exact text (must pair with 1, must NOT pair with 2)
    val cdc = Seq(
      ("d", 2L, null: String),
      ("u", 5L, d1.replace("quick", "sly")),
      ("i", 20L, d2)).toDF("op", "doc_id", "text")
    def runTick() = graft.operators.Dedup.nearDupStoreCdcTick(spark, det,
      s"$root/sig", s"$root/band", s"$root/pairs", cdc,
      batchId = 1L, nBuckets = 64, bucketCap = 10000)
    runTick()

    def pairs = graft.operators.Dedup.readPairLog(spark, s"$root/pairs")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs
    assert(p1.contains((1L, 20L)), "re-ingested text must pair with its live near-copy")
    assert(p1.contains((1L, 5L)), "upserted content must pair under its NEW signature")
    assert(!p1.exists(p => p._1 == 2L || p._2 == 2L),
      "a same-batch delete must never generate or verify a pair")

    // store parity: both stores value-equal a fresh seed of the
    // MUTATED corpus (2 gone, 5 re-texted, 20 added)
    val mutated = Seq(1L -> d1,
      3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      4L -> "another distinct document covering mountain hiking trails in early spring",
      5L -> d1.replace("quick", "sly"),
      6L -> "gardening tips for growing tomatoes indoors during the cold winter months",
      20L -> d2)
    graft.operators.Dedup.seedNearDupStores(spark,
      mutated.toDF("doc_id", "text"), det, s"$root/sig2", s"$root/band2", nBuckets = 64)
    def bandSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def idSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(idSet(s"$root/sig") === idSet(s"$root/sig2"))
    assert(bandSet(s"$root/band") === bandSet(s"$root/band2"))

    // replay: same batch id no-ops the stores, pair log stays exact
    runTick()
    assert(idSet(s"$root/sig") === idSet(s"$root/sig2"))
    assert(bandSet(s"$root/band") === bandSet(s"$root/band2"))
    assert(pairs === p1)
  }

  test("CDC crash window: band store applied, row store not — the maintainer guard re-fires and the replay heals") {
    import spark.implicits._
    // the CDC tick applies BAND first (its removal keys derive from
    // the row store's before-images), so the crash state is band
    // marker AT batchId, row marker BEHIND. The maintainer's replay
    // guard must key on the ROW store for CDC batches — guarding on
    // the band marker (the append-path commit store) would skip the
    // redelivery and permanently strand the row store pre-tick.
    val root = java.nio.file.Files.createTempDirectory("neardup_cdc_crash").toString
    val det = graft.operators.Dedup.minhashDetector(spark, 0.5)
    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val seed = Seq(
      1L -> d1, 2L -> d1.replace("tonight", "today"),
      3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      4L -> "another distinct document covering mountain hiking trails in early spring")
    graft.operators.Dedup.seedNearDupStores(spark,
      seed.toDF("doc_id", "text"), det, s"$root/sig", s"$root/band", nBuckets = 64)

    def copyDir(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(to).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    def wipeDir(dir: String): Unit = {
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    copyDir(s"$root/sig", s"$root/sig_pre")

    val cdc = Seq(
      ("d", 2L, null: String),
      ("i", 20L, d1.replace("quick", "sly"))).toDF("op", "doc_id", "text")
    def runTick() = graft.operators.Dedup.nearDupStoreCdcTick(spark, det,
      s"$root/sig", s"$root/band", s"$root/pairs", cdc,
      batchId = 1L, nBuckets = 64, bucketCap = 10000)
    runTick()
    // manufacture the crash: rewind the ROW store to its pre-tick
    // image; the band store and pair log keep the applied tick
    wipeDir(s"$root/sig"); copyDir(s"$root/sig_pre", s"$root/sig")
    assert(BucketStore.appliedBatchId(s"$root/band") === 1L)
    assert(BucketStore.appliedBatchId(s"$root/sig") < 1L)
    // the OLD guard (band marker — the append-path commit store)
    // would see the batch as applied and skip; the fixed guard keys
    // on the CDC path's last-applied store and re-fires
    assert(!(BucketStore.appliedBatchId(s"$root/band") < 1L),
      "band marker alone cannot detect the CDC crash window")
    assert(BucketStore.appliedBatchId(s"$root/sig") < 1L,
      "the CDC commit store (rows) must still demand the replay")
    // redelivery: band store skips on its own marker, row store
    // catches up; both stores end ≡ a fresh seed of the mutated corpus
    runTick()
    graft.operators.Dedup.seedNearDupStores(spark,
      Seq(1L -> d1,
        3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
        4L -> "another distinct document covering mountain hiking trails in early spring",
        20L -> d1.replace("quick", "sly")).toDF("doc_id", "text"),
      det, s"$root/sig2", s"$root/band2", nBuckets = 64)
    def idSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def bandSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idSet(s"$root/sig") === idSet(s"$root/sig2"))
    assert(bandSet(s"$root/band") === bandSet(s"$root/band2"))
  }

  test("simhash maintainer: stores ∪ ticks ≡ batch, cross-tick copies found") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("simhash_mv").toString
    val fpDir = root + "/fp"; val bandDir = root + "/bands"; val pairsDir = root + "/pairs"

    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val seed = Seq(
      1L -> d1,
      2L -> d1, // exact copy: fingerprint-identical, Hamming 0
      3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      4L -> "another distinct document covering mountain hiking trails in early spring")
    var corpus = seed
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("doc_id", "text"),
      graft.operators.Dedup.simhashDetector(6), fpDir, bandDir, nBuckets = 64)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue())).toSet
    val basePairs = pairsOf(graft.operators.Dedup
      .simhashOn(spark, seed.toDF("doc_id", "text")))
    assert(basePairs.exists(p => p._1 == 1L && p._2 == 2L))

    val input = MemoryStream[DocIngest]
    val q = DocStream.startSimhashMaintain(
      input.toDF(), fpDir, bandDir, pairsDir, root + "/ckpt")
    def maintained = basePairs ++ pairsOf(spark.read.parquet(pairsDir))
    def batchNow = pairsOf(graft.operators.Dedup
      .simhashOn(spark, corpus.toDF("doc_id", "text")))

    // tick 1: doc 10 exact-copies SEED doc 1; doc 11 unique
    input.addData(DocIngest(10L, d1),
      DocIngest(11L, "deep sea creatures glow in the dark abyss far below the surface"))
    corpus = corpus ++ Seq(10L -> d1,
      11L -> "deep sea creatures glow in the dark abyss far below the surface")
    q.processAllAvailable()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 1L && p._2 == 10L))

    // tick 2: doc 12 exact-copies TICK 1's doc 10 — pair crosses ticks
    input.addData(DocIngest(12L, d1))
    corpus = corpus ++ Seq(12L -> d1)
    q.processAllAvailable()
    q.stop()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 10L && p._2 == 12L))
  }

  test("embed-LSH maintainer: stores ∪ ticks ≡ batch over planted vector copies") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("embedlsh_mv").toString
    val vecDir = root + "/vec"; val bandDir = root + "/bands"; val pairsDir = root + "/pairs"

    // deterministic 8-dim corpus: distinct one-hot-ish unit vectors;
    // near-dups are ±0.001 perturbations (cos ≈ 0.99999 ≥ 0.9)
    def oneHot(i: Int): Seq[Double] = Seq.tabulate(8)(j => if (j == i % 8) 1.0 else 0.0)
    def nearCopy(v: Seq[Double]): Seq[Double] = v.updated(7, v(7) + 0.001)
    val seed: Seq[(Long, Seq[Double])] = Seq(
      1L -> oneHot(0), 2L -> nearCopy(oneHot(0)), // planted base pair
      3L -> oneHot(1), 4L -> oneHot(2), 5L -> oneHot(3))
    var corpus = seed
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("vec_id", "embedding"),
      graft.operators.Dedup.embedLshDetector(0.9), vecDir, bandDir, nBuckets = 64)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val basePairs = pairsOf(graft.operators.Dedup
      .embedLshOn(spark, seed.toDF("vec_id", "embedding"), 0.9))
    assert(basePairs.exists(p => p._1 == 1L && p._2 == 2L))

    val input = MemoryStream[VecIngest]
    val q = DocStream.startEmbedNearDupMaintain(
      input.toDF(), vecDir, bandDir, pairsDir, root + "/ckpt")
    def maintained = basePairs ++ pairsOf(spark.read.parquet(pairsDir))
    def batchNow = pairsOf(graft.operators.Dedup
      .embedLshOn(spark, corpus.toDF("vec_id", "embedding"), 0.9))

    // tick 1: vec 10 near-copies SEED vec 3; vec 11 unique
    input.addData(VecIngest(10L, nearCopy(oneHot(1))), VecIngest(11L, oneHot(4)))
    corpus = corpus ++ Seq(10L -> nearCopy(oneHot(1)), 11L -> oneHot(4))
    q.processAllAvailable()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 3L && p._2 == 10L))

    // tick 2: vec 12 near-copies TICK 1's vec 10 — pair crosses ticks
    input.addData(VecIngest(12L, nearCopy(nearCopy(oneHot(1)))))
    corpus = corpus ++ Seq(12L -> nearCopy(nearCopy(oneHot(1))))
    q.processAllAvailable()
    q.stop()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 10L && p._2 == 12L))
  }

  test("wide embed-LSH maintainer: stores ∪ ticks ≡ batch with 32-bit bands") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("embedlshw_mv").toString
    val vecDir = root + "/vec"; val bandDir = root + "/bands"; val pairsDir = root + "/pairs"

    def oneHot(i: Int): Seq[Double] = Seq.tabulate(8)(j => if (j == i % 8) 1.0 else 0.0)
    def nearCopy(v: Seq[Double]): Seq[Double] = v.updated(7, v(7) + 0.001)
    val seed: Seq[(Long, Seq[Double])] = Seq(
      1L -> oneHot(0), 2L -> nearCopy(oneHot(0)),
      3L -> oneHot(1), 4L -> oneHot(2), 5L -> oneHot(3))
    var corpus = seed
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("vec_id", "embedding"),
      graft.operators.Dedup.embedLshWideDetector(0.9), vecDir, bandDir, nBuckets = 64)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val basePairs = pairsOf(graft.operators.Dedup
      .embedLshWideOn(spark, seed.toDF("vec_id", "embedding"), 0.9))
    assert(basePairs.exists(p => p._1 == 1L && p._2 == 2L))

    val input = MemoryStream[VecIngest]
    val q = DocStream.startEmbedWideNearDupMaintain(
      input.toDF(), vecDir, bandDir, pairsDir, root + "/ckpt")
    def maintained = basePairs ++ pairsOf(spark.read.parquet(pairsDir))
    def batchNow = pairsOf(graft.operators.Dedup
      .embedLshWideOn(spark, corpus.toDF("vec_id", "embedding"), 0.9))

    input.addData(VecIngest(10L, nearCopy(oneHot(1))), VecIngest(11L, oneHot(4)))
    corpus = corpus ++ Seq(10L -> nearCopy(oneHot(1)), 11L -> oneHot(4))
    q.processAllAvailable()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 3L && p._2 == 10L))

    input.addData(VecIngest(12L, nearCopy(nearCopy(oneHot(1)))))
    corpus = corpus ++ Seq(12L -> nearCopy(nearCopy(oneHot(1))))
    q.processAllAvailable()
    q.stop()
    assert(maintained === batchNow)
    assert(maintained.exists(p => p._1 == 10L && p._2 == 12L))
  }

  test("image phash maintainer: stores ∪ ticks ≡ batch, cross-tick re-encodes found") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.multimodal.Multimodal
    val root = java.nio.file.Files.createTempDirectory("imgdup_mv").toString
    val fpDir = root + "/fp"; val bandDir = root + "/bands"; val pairsDir = root + "/pairs"

    // seed corpus: distinct seed images (cross-seed hamming floor is
    // large), plus one planted base pair: doc 2 is doc 1's image
    // re-encoded with a brightness shift — different bytes, same
    // perceptual content
    def png(s: Long) = Multimodal.makePng(s)
    val seed: Seq[(Long, Array[Byte])] = Seq(
      1L -> png(100), 2L -> Multimodal.brightenPng(png(100), 4),
      3L -> png(102), 4L -> png(104), 5L -> png(106))
    var corpus = seed
    val det = Multimodal.imagePhashDetector()
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("doc_id", "payload"),
      det, fpDir, bandDir, nBuckets = 64)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue())).toSet
    def batchOf(c: Seq[(Long, Array[Byte])]) = {
      import org.apache.spark.sql.Encoders
      val assets = spark.createDataset(
        c.map { case (id, p) => graft.multimodal.MmAsset(id, "image/png", p) })(
        Encoders.product[graft.multimodal.MmAsset])
      pairsOf(Multimodal.imageDupsOn(spark, assets))
    }
    val basePairs = batchOf(seed)
    assert(basePairs.exists(p => p._1 == 1L && p._2 == 2L))

    val input = MemoryStream[ImgIngest]
    val q = DocStream.startImageNearDupMaintain(
      input.toDF(), fpDir, bandDir, pairsDir, root + "/ckpt")
    def maintained = basePairs ++ pairsOf(spark.read.parquet(pairsDir))

    // tick 1: doc 10 re-encodes SEED doc 3's image; doc 11 unique,
    // doc 12 corrupt (must flag out silently, not kill the tick)
    input.addData(ImgIngest(10L, Multimodal.brightenPng(png(102), 4)),
      ImgIngest(11L, png(108)), ImgIngest(12L, Array[Byte](1, 2, 3)))
    corpus = corpus ++ Seq(10L -> Multimodal.brightenPng(png(102), 4), 11L -> png(108))
    q.processAllAvailable()
    assert(maintained === batchOf(corpus))
    assert(maintained.exists(p => p._1 == 3L && p._2 == 10L))

    // tick 2: doc 13 re-encodes TICK 1's doc 10 — the pair crosses ticks
    input.addData(ImgIngest(13L, Multimodal.brightenPng(Multimodal.brightenPng(png(102), 4), 4)))
    corpus = corpus :+ (13L -> Multimodal.brightenPng(Multimodal.brightenPng(png(102), 4), 4))
    q.processAllAvailable()
    q.stop()
    assert(maintained === batchOf(corpus))
    assert(maintained.exists(p => p._1 == 10L && p._2 == 13L))
  }

  test("banded drift probe: healthy store reads recall 1.0; hot-frozen keys trip it and fire onDrift") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("banded_probe").toString
    val fpDir = root + "/fp"; val bandDir = root + "/bands"
    val det = graft.operators.Dedup.simhashDetector(6)
    val seed = Seq(
      1L -> "the quick brown fox jumps over the lazy dog by the river tonight",
      2L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      3L -> "another distinct document covering mountain hiking trails in early spring")
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("doc_id", "text"),
      det, fpDir, bandDir, nBuckets = 64)

    // healthy: exact-copy plants of stored rows pair with their
    // sources through the real candidate + verify path — recall 1.0
    val r = graft.operators.Dedup.bandedDriftProbe(spark, det, fpDir, bandDir,
      seed.toDF("doc_id", "text"), nBuckets = 64, bucketCap = 10000, floor = 1.0)
    assert(r === graft.operators.Dedup.BandedProbeResult(3, 3, 1.0, tripped = false))

    // stale: cap 0 freezes EVERY stored (band, key) — the plants'
    // collisions are all suppressed, recall 0, probe trips. This is
    // the silent-miss regime the probe exists to surface: the store
    // still ticks "successfully" while finding nothing.
    val r2 = graft.operators.Dedup.bandedDriftProbe(spark, det, fpDir, bandDir,
      seed.toDF("doc_id", "text"), nBuckets = 64, bucketCap = 0, floor = 1.0)
    assert(r2.found === 0L && r2.tripped)

    // through the maintainer: a tick under a hot-frozen store fires
    // onDrift with the measured result
    val fired = new java.util.concurrent.atomic.AtomicReference[
      Option[(Long, graft.operators.Dedup.BandedProbeResult)]](None)
    val input = MemoryStream[DocIngest]
    val q = DocStream.startSimhashMaintain(
      input.toDF(), fpDir, bandDir, root + "/pairs", root + "/ckpt",
      bucketCap = 0,
      probe = Some(graft.operators.Dedup.BandedProbeConfig(sample = 2,
        onDrift = (id, res) => fired.set(Some((id, res))))))
    input.addData(DocIngest(10L, "fresh tick document with its own new vocabulary entirely"))
    q.processAllAvailable()
    q.stop()
    assert(fired.get().exists { case (_, res) => res.tripped && res.planted > 0 },
      s"onDrift did not fire with a tripped result: ${fired.get()}")
  }

  test("pair log compaction folds batch dirs; every crash window still reads exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pairlog_spec").toString + "/pairs"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeBatch(id: Long, pairs: Seq[(Long, Long, Double)]): Unit =
      pairs.toDF("vec_a", "vec_b", "cos")
        .write.mode("overwrite").parquet(s"$dir/batch=$id")
    def readSet = graft.operators.Dedup.readPairLog(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def dirNames = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).toSet

    val p0 = (1L, 2L, 0.9); val p1 = (3L, 4L, 0.95); val p2 = (5L, 6L, 0.99)
    writeBatch(0, Seq(p0)); writeBatch(1, Seq(p1)); writeBatch(2, Seq(p2))
    assert(readSet === Set(p0, p1, p2))

    // fold the replay-safe prefix (ticks 0-1); tick 2 stays per-batch
    graft.operators.Dedup.compactPairLog(spark, dir, upTo = 1)
    assert(dirNames === Set("compact-1", "batch=2"))
    assert(readSet === Set(p0, p1, p2))

    // crash window: a completed fold coexisting with a not-yet-deleted
    // input duplicates rows exactly — the canonical reader collapses it
    writeBatch(1, Seq(p1))
    assert(readSet === Set(p0, p1, p2))
    // and the re-run resumes the DELETES instead of re-folding from
    // the survivors (which would lose batch 0's rows)
    graft.operators.Dedup.compactPairLog(spark, dir, upTo = 1)
    assert(dirNames === Set("compact-1", "batch=2"))
    assert(readSet === Set(p0, p1, p2))

    // crash window: a fold that died mid-write (no _SUCCESS) is
    // invisible to readers and swept by the next run
    val p3 = (7L, 8L, 0.8)
    writeBatch(3, Seq(p3))
    Seq((99L, 99L, 0.0)).toDF("vec_a", "vec_b", "cos")
      .write.mode("overwrite").parquet(s"$dir/compact-3")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/compact-3/_SUCCESS"), false)
    assert(readSet === Set(p0, p1, p2, p3))
    graft.operators.Dedup.compactPairLog(spark, dir, upTo = 3)
    assert(dirNames === Set("compact-3"))
    assert(readSet === Set(p0, p1, p2, p3))
  }

  test("semantic dedup maintainer: seed ∪ tick verdicts ≡ batch keeper rule, replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("semdedup_mv").toString

    // 3 orthogonal blobs (ids 0-23, cluster-separable); ticks append
    // jittered copies whose ids are all HIGHER — arrival-order ==
    // id-order, so the maintainer must reproduce the batch rule
    val d = 27
    def vec(base: Int, noiseDim: Int, noiseAmp: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        (if (j == base) 1.0 else 0.0) + (if (j == noiseDim) noiseAmp else 0.0))
    val seed = (for (b <- 0 until 3; i <- 0 until 8)
      yield ((b * 8 + i).toLong, vec(b, 3 + b * 8 + i, 0.5))).toSeq
    val seedVerdicts = Similarity.seedSemanticStore(spark,
      seed.toDF("vec_id", "v"), root + "/store", root + "/cents",
      threshold = 0.92, nlist = 3)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(seedVerdicts.size === 24 && seedVerdicts.values.forall(identity))

    val input = MemoryStream[VecIngest]
    val q = streaming.DocStream.startSemanticDedupMaintain(
      input.toDF(), root + "/store", root + "/cents", root + "/verdicts",
      root + "/ckpt", threshold = 0.92, nlist = 3)
    def ticked = spark.read.parquet(root + "/verdicts")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap

    // tick 1: a near copy of seed 0 (drop) and a genuinely new vector
    // (keep); within-batch double delivery of the copy
    input.addData(VecIngest(1000L, vec(0, 3, 0.6)), VecIngest(1000L, vec(0, 3, 0.6)),
      VecIngest(1001L, vec(0, 26, 0.5)))
    q.processAllAvailable()
    assert(ticked === Map(1000L -> false, 1001L -> true))

    // tick 2: a near copy of TICK 1's kept vector — cross-tick drop
    input.addData(VecIngest(1002L, vec(0, 26, 0.6)))
    q.processAllAvailable()
    q.stop()
    assert(ticked === Map(1000L -> false, 1001L -> true, 1002L -> false))

    // the verdicts ∪ store equal the batch keeper rule over the whole
    // corpus under the frozen seed centroids
    val corpus = seed ++ Seq(1000L -> vec(0, 3, 0.6), 1001L -> vec(0, 26, 0.5),
      1002L -> vec(0, 26, 0.6))
    val expected = Similarity.semanticVerdicts(
      Similarity.assignClusters(
          Similarity.withVecNorm(spark, corpus.toDF("vec_id", "v")),
          Similarity.loadCentroids(spark, root + "/cents"))
        .select(col("vec_id"), col("v"), col("norm"), col("cluster")),
      threshold = 0.92)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(seedVerdicts ++ ticked === expected)

    // replay guard: a restarted stream redelivering an old batch id
    // leaves store marker and verdict log unchanged
    val markerBefore = streaming.BucketStore.appliedBatchId(root + "/store")
    val input2 = MemoryStream[VecIngest]
    val q2 = streaming.DocStream.startSemanticDedupMaintain(
      input2.toDF(), root + "/store", root + "/cents", root + "/verdicts",
      root + "/ckpt2", threshold = 0.92, nlist = 3)
    input2.addData(VecIngest(1000L, vec(0, 3, 0.6)))
    q2.processAllAvailable()
    q2.stop()
    assert(streaming.BucketStore.appliedBatchId(root + "/store") === markerBefore)
    assert(ticked === Map(1000L -> false, 1001L -> true, 1002L -> false))
  }

  test("semantic quantizer drift: boundary-split dup pair trips the keeper-recall probe; rebuild catches it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("semdedup_drift").toString
    val d = 27
    def vec(base: Int, noiseDim: Int, noiseAmp: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        (if (j == base) 1.0 else 0.0) + (if (j == noiseDim) noiseAmp else 0.0))
    // seed: two blobs along e0/e1 — the frozen quantizer (nlist=2)
    // learns exactly this boundary. 12 members each so the 25%
    // content-hash training sample keeps >= k points at this scale.
    val seed = (for (b <- 0 until 2; i <- 0 until 12)
      yield ((b * 12 + i).toLong, vec(b, 3 + b * 12 + i, 0.5))).toSeq
    Similarity.seedSemanticStore(spark, seed.toDF("vec_id", "v"),
      root + "/store", root + "/cents", threshold = 0.92, nlist = 2)

    // drift: a NEW region along e2 arrives, including a true dup pair
    // (cos = 0.9608 ≥ 0.92) whose members carry tiny OPPOSITE e0/e1
    // tilts — the stale boundary assigns them to DIFFERENT clusters,
    // so the cluster-bounded keeper rule silently keeps both
    val dl = 0.1
    def boundary(tilt: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        if (j == 2) 1.0 else if (j == 0) tilt else if (j == 1) -tilt else 0.0)
    val newBlob = (0 until 6).map(i => VecIngest((102 + i).toLong, vec(2, 20 + i, 0.5)))
    val pair = Seq(VecIngest(100L, boundary(dl)), VecIngest(101L, boundary(-dl)))

    val trips = scala.collection.mutable.ListBuffer.empty[(Long, Similarity.SemanticProbeResult)]
    val input = MemoryStream[VecIngest]
    val q = streaming.DocStream.startSemanticDedupMaintain(
      input.toDF(), root + "/store", root + "/cents", root + "/verdicts",
      root + "/ckpt", threshold = 0.92,
      probe = Some(Similarity.SemanticProbeConfig(sample = 8, floor = 0.9,
        onDrift = (b, r) => trips += ((b, r)))))
    input.addData(pair ++ newBlob: _*)
    q.processAllAvailable(); q.stop()

    // the miss happened (both copies kept — the silent failure mode)…
    val ticked = spark.read.parquet(root + "/verdicts")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(ticked(100L) && ticked(101L), s"expected the split pair kept, got $ticked")
    // …and the probe caught exactly it
    assert(trips.map(_._1) === Seq(0L), s"expected the batch-0 probe to trip, got $trips")
    assert(trips.head._2.keeperRecall < 0.9)

    // the data-driven response: versioned rebuild over the landed
    // corpus with capacity for the new region — the re-trained
    // quantizer clusters the pair together and the batch re-verdict
    // drops the higher id; originals all survive
    val corpus = streaming.BucketStore.readAll(spark, root + "/store")
      .select("vec_id", "v")
    Similarity.rebuildSemanticIndex(spark, corpus, root + "/idx",
      threshold = 0.92, nlist = 3)
    val (vStore, _) = Similarity.resolveIvfIndex(spark, root + "/idx")
    val rebuilt = streaming.BucketStore.readAll(spark, vStore)
      .select(col("vec_id"), col("keep")).collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(rebuilt(100L) && !rebuilt(101L),
      s"rebuild must catch the boundary pair, got keep(100)=${rebuilt(100L)} keep(101)=${rebuilt(101L)}")
    assert(seed.forall { case (id, _) => rebuilt(id) }, "an original was dropped")
    // healthy-state probe over the rebuilt index reads green
    val after = Similarity.semanticDriftProbe(spark, vStore,
      Similarity.loadCentroids(spark,
        vStore.stripSuffix("/store") + "/centroids"),
      (pair.map(p => (p.vec_id, p.embedding)) ++
        newBlob.map(p => (p.vec_id, p.embedding))).toDF("vec_id", "v"),
      threshold = 0.92, floor = 0.9)
    assert(!after.tripped, s"post-rebuild $after")
    ()
  }

  test("CDC-aware pair-log fold drops dead ids' pairs; read ≡ live-filtered history across crash windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pairlog_cdc").toString + "/pairs"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeBatch(id: Long, pairs: Seq[(Long, Long, Double)]): Unit =
      pairs.toDF("vec_a", "vec_b", "cos")
        .write.mode("overwrite").parquet(s"$dir/batch=$id")
    def readSet = graft.operators.Dedup.readPairLog(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    writeBatch(0, Seq((1L, 2L, 0.95), (3L, 5L, 0.91)))
    writeBatch(1, Seq((5L, 6L, 0.99), (2L, 4L, 0.93)))
    // ids 5 and 6 are tombstoned (CDC removed them from the row
    // store); the live set is what the row store still holds
    val live = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    graft.operators.Dedup.compactPairLog(spark, dir, upTo = 1,
      live = Some(live), idCols = Seq("vec_a", "vec_b"))
    assert(readSet === Set((1L, 2L), (2L, 4L)),
      "the fold must drop every pair with a dead endpoint")
    // crash window: fold completed but an input's delete didn't land —
    // the resumed fold finishes the deletes; the dead pair the
    // leftover dir re-exposes disappears again (point-in-time
    // filtering is the documented contract for rows since the fold)
    writeBatch(1, Seq((5L, 6L, 0.99), (2L, 4L, 0.93)))
    assert(readSet === Set((1L, 2L), (2L, 4L), (5L, 6L)))
    graft.operators.Dedup.compactPairLog(spark, dir, upTo = 1,
      live = Some(live), idCols = Seq("vec_a", "vec_b"))
    assert(readSet === Set((1L, 2L), (2L, 4L)))
    // a later live-filtered fold can shrink even a lone compact dir
    graft.operators.Dedup.compactPairLog(spark, dir, upTo = 2,
      live = Some(Seq(1L, 2L).toDF("vec_id")), idCols = Seq("vec_a", "vec_b"))
    assert(readSet === Set((1L, 2L)))
  }

  test("CDC tick genericity: wide embed-LSH delete/re-ingest ≡ fresh seed of the mutated corpus") {
    import spark.implicits._
    // the r13 verdict's #4: nearDupStoreCdcTick was spec'd on MinHash
    // only; this exercises the same seam on a second family whose row
    // store holds SIGNATURE ARRAYS (sigw), whose band keys are 32-bit
    // words, and whose verify is cosine — any minhash-specific
    // assumption in the tick (column names, key derivation from
    // before-images, post-delete probing) would surface here
    val root = java.nio.file.Files.createTempDirectory("wide_cdc").toString
    val det = graft.operators.Dedup.embedLshWideDetector(0.9)
    def oneHot(i: Int): Seq[Double] = Seq.tabulate(8)(j => if (j == i % 8) 1.0 else 0.0)
    def nearCopy(v: Seq[Double], eps: Double): Seq[Double] = v.updated(7, v(7) + eps)
    val seed: Seq[(Long, Seq[Double])] = Seq(
      1L -> oneHot(0), 2L -> nearCopy(oneHot(0), 0.001), // planted pair
      3L -> oneHot(1), 4L -> oneHot(2), 5L -> oneHot(3))
    graft.operators.Dedup.seedNearDupStores(spark,
      seed.toDF("vec_id", "embedding"), det, s"$root/sig", s"$root/band",
      nBuckets = 64)

    // DELETE vec 2 with a NULL payload — the before-image signature
    // (and hence every band key to tombstone) must come from the row
    // store itself; UPSERT vec 5 to a near-copy of 1; INSERT 20 with
    // the deleted vector's content (pairs with 1, never with 2)
    val cdc = Seq(
      ("d", 2L, null: Seq[Double]),
      ("u", 5L, nearCopy(oneHot(0), 0.002)),
      ("i", 20L, nearCopy(oneHot(0), 0.001))).toDF("op", "vec_id", "embedding")
    def runTick() = graft.operators.Dedup.nearDupStoreCdcTick(spark, det,
      s"$root/sig", s"$root/band", s"$root/pairs", cdc,
      batchId = 1L, nBuckets = 64, bucketCap = 10000)
    runTick()

    val pairs = graft.operators.Dedup.readPairLog(spark, s"$root/pairs")
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 20L)))
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      "a same-batch delete must never pair")

    val mutated: Seq[(Long, Seq[Double])] = Seq(
      1L -> oneHot(0), 3L -> oneHot(1), 4L -> oneHot(2),
      5L -> nearCopy(oneHot(0), 0.002), 20L -> nearCopy(oneHot(0), 0.001))
    graft.operators.Dedup.seedNearDupStores(spark,
      mutated.toDF("vec_id", "embedding"), det, s"$root/sig2", s"$root/band2",
      nBuckets = 64)
    def sigSet(dir: String) = BucketStore.readAll(spark, dir)
      .select(col("vec_id"), col("sigw").cast("array<string>").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def bandSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("vec_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(sigSet(s"$root/sig") === sigSet(s"$root/sig2"))
    assert(bandSet(s"$root/band") === bandSet(s"$root/band2"))

    // replay no-op
    runTick()
    assert(sigSet(s"$root/sig") === sigSet(s"$root/sig2"))
    assert(bandSet(s"$root/band") === bandSet(s"$root/band2"))
  }

  test("semantic CDC: a dead keeper no longer suppresses a live re-ingest; membership ≡ mutated corpus; replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("semdedup_cdc").toString
    val d = 27
    def vec(base: Int, noiseDim: Int, noiseAmp: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        (if (j == base) 1.0 else 0.0) + (if (j == noiseDim) noiseAmp else 0.0))
    val seed = (for (b <- 0 until 3; i <- 0 until 8)
      yield ((b * 8 + i).toLong, vec(b, 3 + b * 8 + i, 0.5))).toSeq
    Similarity.seedSemanticStore(spark, seed.toDF("vec_id", "v"),
      root + "/store", root + "/cents", threshold = 0.92, nlist = 3)
    val cents = Similarity.loadCentroids(spark, root + "/cents")

    // sanity: WITHOUT CDC, a near-copy of seed 0 is suppressed by it
    val probe = Seq(2000L -> vec(0, 3, 0.6)).toDF("vec_id", "v")
    val pre = Similarity.semanticDedupTick(spark, root + "/store", cents,
      probe, threshold = 0.92, nlist = 3, batchId = 1L)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(pre === Map(2000L -> false), "live keeper must suppress the copy")

    // CDC batch: delete keeper 0 (before-image) AND its just-landed
    // copy 2000, re-ingest the content as 3000 (must now KEEP — the
    // dead keeper is out of its bucket), plus 3001 near LIVE seed 8
    // (must still DROP — CDC only removes the tombstoned rows)
    val cdc = Seq(
      ("delete", 0L, vec(0, 3, 0.5)),
      ("delete", 2000L, vec(0, 3, 0.6)),
      ("upsert", 3000L, vec(0, 3, 0.6)),
      ("upsert", 3001L, vec(1, 11, 0.6))).toDF("op", "vec_id", "v")
    def runTick() = Similarity.semanticDedupCdcTick(spark, root + "/store",
      cents, cdc, threshold = 0.92, nlist = 3, batchId = 2L)
    val got = runTick().collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(got === Map(3000L -> true, 3001L -> false))

    // membership ≡ the mutated corpus; the dead rows are really out
    def ids = BucketStore.readAll(spark, root + "/store")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = seed.map(_._1).toSet - 0L + 3000L + 3001L
    assert(ids === expected)
    // and the landed verdicts match the returned ones
    val storedVerdicts = BucketStore.readAll(spark, root + "/store")
      .filter(col("vec_id") >= 3000L)
      .select("vec_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(storedVerdicts === got)

    // replay: the same batch id no-ops
    val marker = BucketStore.appliedBatchId(root + "/store")
    runTick()
    assert(BucketStore.appliedBatchId(root + "/store") === marker)
    assert(ids === expected)
  }

  test("semantic maintainer routes op-column batches through the CDC tick") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("semdedup_cdc_mv").toString
    val d = 27
    def vec(base: Int, noiseDim: Int, noiseAmp: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        (if (j == base) 1.0 else 0.0) + (if (j == noiseDim) noiseAmp else 0.0))
    val seed = (for (b <- 0 until 3; i <- 0 until 8)
      yield ((b * 8 + i).toLong, vec(b, 3 + b * 8 + i, 0.5))).toSeq
    Similarity.seedSemanticStore(spark, seed.toDF("vec_id", "v"),
      root + "/store", root + "/cents", threshold = 0.92, nlist = 3)

    val input = MemoryStream[VecCdcIngest]
    val q = streaming.DocStream.startSemanticDedupMaintain(
      input.toDF(), root + "/store", root + "/cents", root + "/verdicts",
      root + "/ckpt", threshold = 0.92, nlist = 3)
    input.addData(
      VecCdcIngest("delete", 0L, vec(0, 3, 0.5)),
      VecCdcIngest("upsert", 3000L, vec(0, 3, 0.6)))
    q.processAllAvailable()
    q.stop()
    val ticked = spark.read.parquet(root + "/verdicts")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(ticked === Map(3000L -> true),
      "the streamed CDC batch must tombstone the keeper before verdicting")
    val ids = BucketStore.readAll(spark, root + "/store")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids === (seed.map(_._1).toSet - 0L + 3000L))
  }

  /** The CDC-genericity contract, detector-parameterized (the r14
    * wide-embed-LSH template, generalized): seed the stores, run ONE
    * CDC tick (delete with null payload — before-images must come
    * from the row store — plus an upsert and a re-ingest of the dead
    * id's content under a new id), then pin (a) the re-ingest pairs
    * with the ORIGINAL keeper and never with the tombstoned id,
    * (b) row + band stores ≡ a fresh seed of the mutated corpus
    * (every column, json-serialized — detector-generic), (c) replay
    * is a no-op. Any family-specific assumption in the tick (column
    * names, key derivation from before-images, post-delete probing)
    * surfaces as a diff here.
    */
  private def cdcFamilyCheck(det: graft.operators.Dedup.NearDupDetector,
      root: String, seedDF: org.apache.spark.sql.DataFrame,
      cdcDF: org.apache.spark.sql.DataFrame,
      mutatedDF: org.apache.spark.sql.DataFrame,
      mustPair: (Long, Long), dead: Long): Unit = {
    graft.operators.Dedup.seedNearDupStores(spark, seedDF, det,
      s"$root/rows", s"$root/band", nBuckets = 64)
    def runTick() = graft.operators.Dedup.nearDupStoreCdcTick(spark, det,
      s"$root/rows", s"$root/band", s"$root/pairs", cdcDF,
      batchId = 1L, nBuckets = 64, bucketCap = 10000)
    runTick()
    val pairs = graft.operators.Dedup.readPairLog(spark, s"$root/pairs")
      .select(det.aCol, det.bCol)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains(mustPair),
      s"${det.name}: re-ingest pair $mustPair missing, got $pairs")
    assert(!pairs.exists(p => p._1 == dead || p._2 == dead),
      s"${det.name}: tombstoned id $dead paired: $pairs")
    graft.operators.Dedup.seedNearDupStores(spark, mutatedDF, det,
      s"$root/rows2", s"$root/band2", nBuckets = 64)
    def snap(dir: String): Set[String] = {
      val df = BucketStore.readAll(spark, dir)
      df.select(to_json(struct(df.columns.sorted.map(col): _*)))
        .collect().map(_.getString(0)).toSet
    }
    assert(snap(s"$root/rows") === snap(s"$root/rows2"),
      s"${det.name}: row store ≠ fresh seed of the mutated corpus")
    assert(snap(s"$root/band") === snap(s"$root/band2"),
      s"${det.name}: band store ≠ fresh seed of the mutated corpus")
    runTick() // replay no-op
    assert(snap(s"$root/rows") === snap(s"$root/rows2"))
    assert(snap(s"$root/band") === snap(s"$root/band2"))
  }

  test("CDC tick genericity: simhash delete/re-ingest ≡ fresh seed of the mutated corpus") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("simhash_cdc").toString
    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val pasta = "completely unrelated text about cooking pasta with garlic and olive oil"
    val hike = "another distinct document covering mountain hiking trails in early spring"
    cdcFamilyCheck(graft.operators.Dedup.simhashDetector(6), root,
      seedDF = Seq(1L -> d1, 2L -> d1, 3L -> pasta, 4L -> hike)
        .toDF("doc_id", "text"),
      cdcDF = Seq(("d", 2L, null: String), ("u", 4L, pasta), ("i", 20L, d1))
        .toDF("op", "doc_id", "text"),
      mutatedDF = Seq(1L -> d1, 3L -> pasta, 4L -> pasta, 20L -> d1)
        .toDF("doc_id", "text"),
      mustPair = (1L, 20L), dead = 2L)
  }

  test("CDC tick genericity: image dHash delete/re-ingest ≡ fresh seed of the mutated corpus") {
    import spark.implicits._
    def png(s: Long) = Multimodal.makePng(s)
    val root = java.nio.file.Files.createTempDirectory("image_cdc").toString
    cdcFamilyCheck(Multimodal.imagePhashDetector(7), root,
      seedDF = Seq(1L -> png(100), 2L -> Multimodal.brightenPng(png(100), 4),
          3L -> png(102), 4L -> png(108))
        .toDF("doc_id", "payload"),
      cdcDF = Seq(("d", 2L, null: Array[Byte]),
          ("u", 4L, Multimodal.brightenPng(png(102), 4)),
          ("i", 20L, Multimodal.brightenPng(png(100), 4)))
        .toDF("op", "doc_id", "payload"),
      mutatedDF = Seq(1L -> png(100), 3L -> png(102),
          4L -> Multimodal.brightenPng(png(102), 4),
          20L -> Multimodal.brightenPng(png(100), 4))
        .toDF("doc_id", "payload"),
      mustPair = (1L, 20L), dead = 2L)
  }

  test("CDC tick genericity: audio spectral delete/re-ingest ≡ fresh seed of the mutated corpus") {
    import spark.implicits._
    def wav(s: Long) = Multimodal.makeWav(s)
    val root = java.nio.file.Files.createTempDirectory("audio_cdc").toString
    cdcFamilyCheck(Multimodal.audioFpDetector(), root,
      seedDF = Seq(1L -> wav(1), 2L -> Multimodal.scaleWav(wav(1), 0.5),
          3L -> wav(3), 4L -> wav(4))
        .toDF("doc_id", "payload"),
      cdcDF = Seq(("d", 2L, null: Array[Byte]),
          ("u", 4L, Multimodal.scaleWav(wav(3), 0.5)),
          ("i", 20L, Multimodal.scaleWav(wav(1), 0.5)))
        .toDF("op", "doc_id", "payload"),
      mutatedDF = Seq(1L -> wav(1), 3L -> wav(3),
          4L -> Multimodal.scaleWav(wav(3), 0.5),
          20L -> Multimodal.scaleWav(wav(1), 0.5))
        .toDF("doc_id", "payload"),
      mustPair = (1L, 20L), dead = 2L)
  }

  test("CDC tick genericity: video temporal-luminance delete/re-ingest ≡ fresh seed of the mutated corpus") {
    import spark.implicits._
    def avi(s: Long) = Multimodal.makeAvi(s)
    val root = java.nio.file.Files.createTempDirectory("video_cdc").toString
    // id 21 re-ingests the DELETED clip 3's content: after the
    // tombstone it must pair with NOTHING (its only neighbor is dead)
    cdcFamilyCheck(Multimodal.videoFpDetector(), root,
      seedDF = Seq(1L -> avi(1), 3L -> avi(3), 5L -> avi(5), 7L -> avi(7))
        .toDF("doc_id", "payload"),
      cdcDF = Seq(("d", 3L, null: Array[Byte]),
          ("u", 7L, Multimodal.reencodeTrimAvi(avi(5), 2)),
          ("i", 20L, Multimodal.reencodeTrimAvi(avi(1), 2)),
          ("i", 21L, Multimodal.reencodeTrimAvi(avi(3), 2)))
        .toDF("op", "doc_id", "payload"),
      mutatedDF = Seq(1L -> avi(1), 5L -> avi(5),
          7L -> Multimodal.reencodeTrimAvi(avi(5), 2),
          20L -> Multimodal.reencodeTrimAvi(avi(1), 2),
          21L -> Multimodal.reencodeTrimAvi(avi(3), 2))
        .toDF("doc_id", "payload"),
      mustPair = (1L, 20L), dead = 3L)
  }

  test("maintainer folds the pair log itself: after N ticks + CDC, dirs collapse and dead ids drop with no manual call") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pairlog_selffold").toString
    val vecDir = root + "/vec"; val bandDir = root + "/bands"; val pairsDir = root + "/pairs"
    def oneHot(i: Int): Seq[Double] = Seq.tabulate(8)(j => if (j == i % 8) 1.0 else 0.0)
    def nearCopy(v: Seq[Double]): Seq[Double] = v.updated(7, v(7) + 0.001)
    val seed: Seq[(Long, Seq[Double])] = Seq(
      1L -> oneHot(0), 2L -> nearCopy(oneHot(0)),
      3L -> oneHot(1), 4L -> oneHot(2), 5L -> oneHot(3))
    graft.operators.Dedup.seedNearDupStores(spark, seed.toDF("vec_id", "embedding"),
      graft.operators.Dedup.embedLshDetector(0.9), vecDir, bandDir, nBuckets = 64)

    // op-column stream: every batch routes through the CDC tick; the
    // maintainer's own fold cadence is 2 ticks
    val input = MemoryStream[VecCdcIngest]
    val q = DocStream.startEmbedNearDupMaintain(
      input.toDF(), vecDir, bandDir, pairsDir, root + "/ckpt",
      compactPairsEveryNTicks = 2)
    def dirNames = {
      val p = new org.apache.hadoop.fs.Path(pairsDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    def pairSet = graft.operators.Dedup.readPairLog(spark, pairsDir)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch 0: vec 10 pairs with seed 1 AND seed 2; batch 1: vec 11
    // pairs with seed 3 — two event dirs stack, no fold yet (0 and 1
    // are both off the cadence)
    input.addData(VecCdcIngest("i", 10L, nearCopy(oneHot(0))))
    q.processAllAvailable()
    input.addData(VecCdcIngest("i", 11L, nearCopy(oneHot(1))))
    q.processAllAvailable()
    assert(dirNames === Set("batch=0", "batch=1"), dirNames.toString)
    assert(pairSet.contains((2L, 10L)), "pre-fold, the doomed id's pair is in the log")

    // batch 2: CDC delete of vec 2 (before-image from the row store) +
    // an insert pairing with seed 4 — the cadence fires: the maintainer
    // folds batches 0..2 into one compact dir and the live filter
    // drops every pair with the tombstoned endpoint, NO manual
    // compactPairLog anywhere in this test
    input.addData(
      VecCdcIngest("d", 2L, null),
      VecCdcIngest("i", 12L, nearCopy(oneHot(2))))
    q.processAllAvailable()
    q.stop()
    assert(dirNames === Set("compact-2"), dirNames.toString)
    assert(pairSet === Set((1L, 10L), (3L, 11L), (4L, 12L)),
      s"fold must keep live pairs and drop the dead endpoint's, got $pairSet")
    // the log is now bounded by the live corpus: ≤ live-pair rows
    assert(!pairSet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("a failed inline store apply joins its overlapped leg first; recover() + replay ≡ a fresh seed") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val Dedup = graft.operators.Dedup
    val root = java.nio.file.Files.createTempDirectory("neardup_fault").toString
    val (sigDir, bandDir, pairsDir) = (s"$root/sig", s"$root/band", s"$root/pairs")
    val det = Dedup.minhashDetector(spark, 0.5)
    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val seed = Seq(1L -> d1,
      3L -> "completely unrelated text about cooking pasta with garlic and olive oil",
      4L -> "another distinct document covering mountain hiking trails in early spring")
    val batch1 = Seq(10L -> d1.replace("tonight", "today"))
    val batch2 = Seq(11L -> d1.replace("quick", "sly"),
      12L -> "financial report third quarter revenue grew beyond expectations this year")
    Dedup.seedNearDupStores(spark, seed.toDF("doc_id", "text"), det, sigDir, bandDir,
      nBuckets = 64)
    def tick(d: Dedup.NearDupDetector, docs: Seq[(Long, String)], batchId: Long): Unit =
      Dedup.nearDupStoreTick(spark, d, sigDir, bandDir, pairsDir, docs.toDF("doc_id", "text"),
        batchId, nBuckets = 64, bucketCap = 10000)
    tick(det, batch1, 1L) // both stores carry a published marker from here on

    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(p: String): String = {
      val in = fs.open(new Path(p))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def write(p: String, content: String): Unit = {
      val out = fs.create(new Path(p), true)
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }
    val bandMeta = s"$bandDir/_graft_store_meta"
    val sigMarker = s"$sigDir/_graft_applied_batch"
    val (meta0, marker0) = (read(bandMeta), read(sigMarker))
    // the fault lands while the tick plans its verify — after both
    // stores' snapshots were resolved, before either store applies: a
    // second writer re-seeds the band store with another layout, so
    // the INLINE band apply fails at entry; the row store's marker
    // reads torn, so the OVERLAPPED row apply retries (~0.5 s) and
    // then fails too
    val faulty = det.copy(verify = (cand, rows) => {
      write(bandMeta, "n=32\nkind=long\n")
      write(sigMarker, "")
      det.verify(cand, rows)
    })
    val e = intercept[IllegalArgumentException](tick(faulty, batch2, 2L))
    assert(e.getMessage.contains("bucket-count mismatch"), e.getMessage)
    // the tick waited for its leg before throwing: the leg's failure
    // rides along, and no store writer outlives the tick
    assert(e.getSuppressed.exists(_.getMessage.contains("unreadable")),
      e.getSuppressed.map(_.getMessage).mkString("; "))
    val live = Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive &&
      Seq("gone-band-keys-", "rows-append-", "band-tick-").exists(t.getName.startsWith))
    assert(live.isEmpty, s"store legs still running: ${live.map(_.getName)}")

    // heal: the metadata comes back — both stores still serve the
    // pre-tick snapshot (nothing published, no manifest names a
    // missing generation) — recover() sweeps whatever the aborted
    // applies left, and the redelivered batch replays
    write(bandMeta, meta0)
    write(sigMarker, marker0)
    def idSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = (seed ++ batch1).map(_._1).toSet
    assert(idSet(sigDir) === before && idSet(bandDir) === before)
    BucketStore.recover(sigDir)
    BucketStore.recover(bandDir)
    tick(det, batch2, 2L)
    val all = seed ++ batch1 ++ batch2
    Dedup.seedNearDupStores(spark, all.toDF("doc_id", "text"), det,
      s"$root/sig2", s"$root/band2", nBuckets = 64)
    def bandSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idSet(sigDir) === idSet(s"$root/sig2"))
    assert(bandSet(bandDir) === bandSet(s"$root/band2"))
    // the seed holds no pair, so the pair log alone ≡ the batch recompute
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = pairsOf(Dedup.minhashLshOn(spark, all.toDF("doc_id", "text"), 0.5))
    assert(batchPairs.contains((1L, 11L)))
    assert(pairsOf(Dedup.readPairLog(spark, pairsDir)) === batchPairs)
  }
}

case class VecIngest(vec_id: Long, embedding: Seq[Double])
case class VecCdcIngest(op: String, vec_id: Long, embedding: Seq[Double])
case class ImgIngest(doc_id: Long, payload: Array[Byte])
