package graft

import graft.recommender.Als
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ALS dense re-index seam ([[Als.keyedTrainingSet]]): keys
  * outside int32 re-index to their rank in sorted key order, train,
  * and round-trip back — so a corpus whose ids are shifted beyond
  * int32 (rank order preserved) must produce IDENTICAL recs to the
  * same corpus through the re-index path unshifted. In-range keys
  * keep the bare-cast fast path.
  */
class AlsReindexSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def raw = Tables.interactions(spark, sf)
    .select(col("user_id"), col("item_id"), col("rating").cast("float").as("rating"))

  test("ALS recs are invariant under a 2^33 key shift through the re-index seam") {
    val shift = 1L << 33
    // unshifted corpus FORCED through the re-index path (the seam's
    // behavior is what's under test, not ALS-vs-ALS numeric noise
    // between dense ranks and raw ids)
    val base = Als.topNOn(raw, n = 5, force = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(base.nonEmpty)
    // ids shifted past int32: the threshold check must trigger the
    // re-index on its own (no force), and the output must carry the
    // SHIFTED original ids back
    val shifted = Als.topNOn(
      raw.withColumn("user_id", col("user_id") + shift)
         .withColumn("item_id", col("item_id") + shift),
      n = 5)
      .collect().map(r => (r.getLong(0) - shift, r.getLong(1) - shift,
        r.getDouble(2), r.getInt(3))).toSet
    assert(shifted === base)
  }

  test("in-range keys keep the bare-cast fast path and its output schema") {
    val direct = Als.topNOn(raw, n = 3)
    assert(direct.columns.toSeq === Seq("user_id", "item_id", "score", "rn"))
    // every training user gets recs, under its ORIGINAL id
    val outUsers = direct.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val rawUsers = raw.select("user_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(outUsers === rawUsers)
  }
}
