package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Perceptual-hash (dHash) image near-dup detection. Gates:
  *  - hash invariances the operator's recall rests on: a global
  *    brightness shift and a single damaged pixel move the legacy
  *    64-bit hash ≤ 3 bits and the 128-bit hash ≤ 6 bits — inside
  *    the 8-band pigeonhole guarantee (hamming ≤ 7) the default
  *    maxDist advertises — while distinct seeds stay far apart
  *    (measured 64-bit floor 8, 128-bit floor ≥ 16);
  *  - dHash128's word 0 is exactly the legacy dHash (width upgrade
  *    never moved the horizontal-gradient semantics);
  *  - corrupt payloads hash to None instead of throwing;
  *  - the registered query finds every planted brightened copy at
  *    hamming ≤ 7 and pairs nothing else.
  */
class MmPhashSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def flipPixel(payload: Array[Byte]): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    img.setRGB(0, 0, img.getRGB(0, 0) ^ 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("dHash moves <= 3 bits under brightness shift and single-pixel damage; seeds stay >= 8 apart") {
    val seeds = (0L until 60L).map(_ * 2)
    val hs = seeds.map(s => Multimodal.dHash(Multimodal.makePng(s)).get)
    seeds.zip(hs).foreach { case (s, h) =>
      val p = Multimodal.makePng(s)
      val bright = Multimodal.dHash(Multimodal.brightenPng(p, 4)).get
      val damaged = Multimodal.dHash(flipPixel(p)).get
      assert(java.lang.Long.bitCount(h ^ bright) <= 3, s"seed $s bright drift")
      assert(java.lang.Long.bitCount(h ^ damaged) <= 3, s"seed $s pixel drift")
      // the brightened copy's BYTES differ — byte dedup cannot see it
      assert(!java.util.Arrays.equals(p, Multimodal.brightenPng(p, 4)))
    }
    val minCross = (for (i <- hs.indices; j <- i + 1 until hs.size)
      yield java.lang.Long.bitCount(hs(i) ^ hs(j))).min
    assert(minCross >= 8)
  }

  test("corrupt payload hashes to None, not an exception") {
    assert(Multimodal.dHash(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.dHash(Array.empty[Byte]).isEmpty)
    assert(Multimodal.dHash128(Array[Byte](1, 2, 3)).isEmpty)
    assert(Multimodal.dHash128(Array.empty[Byte]).isEmpty)
  }

  private def ham128(a: Array[Long], b: Array[Long]): Int =
    a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum

  test("dHash128: word 0 is the legacy 64-bit dHash; drift stays inside the 8-band guarantee; seeds separate") {
    val seeds = (0L until 60L).map(_ * 2)
    val hs = seeds.map(s => Multimodal.dHash128(Multimodal.makePng(s)).get)
    seeds.zip(hs).foreach { case (s, h) =>
      val p = Multimodal.makePng(s)
      assert(h(0) === Multimodal.dHash(p).get, s"seed $s word0 != legacy dHash")
      val bright = Multimodal.dHash128(Multimodal.brightenPng(p, 4)).get
      val damaged = Multimodal.dHash128(flipPixel(p)).get
      // each 64-bit word drifts <= 3 under these perturbations (the
      // legacy pin), so the 128-bit distance stays <= 6 < the
      // maxDist=7 default — which the 8×16 banding GUARANTEES recall
      // for (pigeonhole: <= 7 differing bits cannot touch all 8 bands)
      assert(ham128(h, bright) <= 6, s"seed $s bright drift ${ham128(h, bright)}")
      assert(ham128(h, damaged) <= 6, s"seed $s pixel drift ${ham128(h, damaged)}")
    }
    val minCross = (for (i <- hs.indices; j <- i + 1 until hs.size)
      yield ham128(hs(i), hs(j))).min
    assert(minCross >= 16, s"cross-seed floor $minCross")
  }

  test("registered mm_phash pairs exactly the planted brightened copies") {
    val pairs = Multimodal.imageDups(spark, sf).collect()
    // plants: every image doc with doc_id % 10 == 0 gets a copy at
    // +10000000; each must pair its original
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 === 0 && col("doc_id") % 2 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val found = pairs.filter(_.getLong(1) >= 10000000L)
      .map(r => (r.getLong(0), r.getLong(1) - 10000000L)).toMap
    assert(expected.forall(d => found.get(d).contains(d)),
      s"missed plants: ${(expected -- found.keySet).take(5)}")
    // nothing else pairs: the corpus is seed-random, the measured
    // 128-bit cross-seed hamming floor (>= 16) clears maxDist = 7
    assert(pairs.length === expected.size)
    assert(pairs.forall(_.getInt(2) <= 7))
  }
}
