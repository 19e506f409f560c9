package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression: pair-key packing must round-trip ids in [2^31, 2^32) —
  * an arithmetic unpack shift would sign-extend them negative.
  */
class ItemCFPackSpec extends AnyFunSuite with graft.ReleasesCaches {
  private lazy val spark = graft.TestSpark.spark

  test("pair ids at and above 2^31 unpack unchanged") {
    import spark.implicits._
    val hi = 1L << 31
    // two users sharing the same two high items → one similarity pair
    val i = Seq(
      (1L, hi, 4.0), (1L, hi + 1, 3.0),
      (2L, hi, 5.0), (2L, hi + 1, 4.0),
      (3L, hi, 2.0), (3L, hi + 1, 2.5))
      .toDF("user_id", "item_id", "rating")
    val sims = ItemCF.itemSimilarityOn(i, minCommon = 3, minSim = 0.0).collect()
    assert(sims.length === 1)
    assert(sims.head.getAs[Long]("item_a") === hi)
    assert(sims.head.getAs[Long]("item_b") === hi + 1)
  }

  test("connected components drop self-loops from either edge direction") {
    import spark.implicits._
    val edges = Seq((7L, 7L), (1L, 2L)).toDF("src", "dst")
    val labels = Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L)) // no phantom vertex 7
  }
}
