package graft

import graft.recommender.Als
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass unseen top-n scorer ([[Als.topNUnseen]]): it must equal
  * a driver-side brute force (every score, seen items removed, sorted
  * score desc / item asc, first n) exactly, whatever the block size
  * (one or many item blocks per user block, merged by `graft_topk`) and
  * whatever the user key's width — and the frames [[Als.topNOn]] and
  * the fold-in serves return must not reach back to the training
  * source once they have returned.
  */
class AlsTopNSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  // rank-2 factors with small dyadic entries: every dot product is
  // exact in float, so BLAS and the brute force's loop agree bit for bit
  private val itemFactors = Seq(
    1 -> Array(1.0f, 0.5f),
    2 -> Array(0.5f, 1.0f),
    3 -> Array(1.0f, 0.5f), // = item 1: ties break on the item id
    4 -> Array(-1.0f, 2.0f),
    5 -> Array(2.0f, -0.5f),
    6 -> Array(0.0f, 0.0f),
    7 -> Array(1.5f, 1.5f))
  private val userFactors = Seq(
    10 -> Array(1.0f, 1.0f),  // items 1, 2, 3 and 5 tie at 1.5 for 3 slots
    11 -> Array(0.5f, -1.0f), // 2 unseen items: fewer than n
    12 -> Array(2.0f, 0.5f),  // has seen every item: no rows
    13 -> Array(-0.5f, 1.0f)) // no seen rows: n
  private val seen = Seq(10 -> 7, 10 -> 4) ++
    Seq(1, 2, 4, 5, 7).map(11 -> _) ++ (1 to 7).map(12 -> _)
  private val n = 3
  // beyond int32: fold-in users keep their original long ids
  private val wide = 1L << 33

  private def bruteForce: Set[(Long, Int, Float, Int)] = userFactors.flatMap { case (u, x) =>
    val s = seen.collect { case (`u`, i) => i }.toSet
    itemFactors.filterNot(i => s(i._1))
      .map { case (i, y) => (i, x(0) * y(0) + x(1) * y(1)) }
      .sortBy { case (i, score) => (-score, i) }
      .take(n).zipWithIndex
      .map { case ((i, score), r) => (u.toLong, i, score + 0.0f, r + 1) }
  }.toSet

  /** The kernel's rows; with `offset`, every user id is shifted by it,
    * so the user side is keyed bigint and must come back so.
    */
  private def scored(blockSize: Int, offset: Option[Long] = None): Set[(Long, Int, Float, Int)] = {
    import spark.implicits._
    def keyed(df: DataFrame, c: String) = offset.fold(df)(o => df.withColumn(c, col(c) + o))
    val users = Als.userSide(keyed(userFactors.toDF("id", "features"), "id"),
      keyed(seen.toDF("user", "item"), "user"))
    val out = Als.scoreUnseen(users, itemFactors.toDF("id", "features").repartition(2),
        rank = 2, n = n, blockSize = blockSize)
    assert(out.schema("user").dataType === (if (offset.isEmpty) IntegerType else LongType))
    out.select(col("user").cast("long"), col("item"), col("score"), col("rn"))
      .as[(Long, Int, Float, Int)].collect()
      .map { case (u, i, s, r) => (u, i, s + 0.0f, r) }.toSet
  }

  test("one-pass scorer ≡ brute force: ties, short lists, all-seen and no-seen users") {
    val want = bruteForce
    assert(want.filter(_._1 == 10).map(_._2) === Set(1, 2, 3))
    assert(want.filter(_._1 == 11).map(r => (r._2, r._4)) === Set((3, 1), (6, 2)))
    assert(!want.exists(_._1 == 12))
    assert(want.count(_._1 == 13) === n)

    // each (user block, item block) pair yields a heap per user and
    // graft_topk merges them: several item blocks, and one for all
    assert(scored(blockSize = 2) === want)
    assert(scored(blockSize = 3) === want)
    assert(scored(blockSize = 4096) === want)
    assert(scored(blockSize = 2, Some(wide)) === want.map(r => r.copy(_1 = r._1 + wide)))
  }

  test("scores equal recommendForAllUsers' to the bit; a user filter scores only those users") {
    import spark.implicits._
    val train = Als.implicitTrainingSet(spark, sf).cache()
    val model = Als.fit(train, maxIter = 3)
    val k = 5
    val seenPairs = train.select("user", "item").as[(Int, Int)].collect().toSet
    val nItems = model.itemFactors.count().toInt
    // MLlib's own scores for every item, seen removed, first k by the
    // scorer's order
    val want = model.recommendForAllUsers(nItems)
      .select(col("user"), explode(col("recommendations")).as("r"))
      .select(col("user"), col("r.item"), col("r.rating"))
      .as[(Int, Int, Float)].collect()
      .filterNot(r => seenPairs((r._1, r._2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
          .map { case ((u, i, s), rn) => (u, i, s, rn + 1) }
      }.toSet
    val got = Als.topNUnseen(model, train, k)
      .as[(Int, Int, Float, Int)].collect().toSet
    assert(got.nonEmpty)
    assert(got === want)

    val cut = got.map(_._1).toSeq.sorted.apply(got.map(_._1).size / 2)
    val some = Als.topNUnseen(model, train, k, users = col("id") <= cut)
      .as[(Int, Int, Float, Int)].collect().toSet
    assert(some === got.filter(_._1 <= cut))
    train.unpersist()
  }

  test("topNOn's frame reads no parquet once it returns; recs are unseen, ranked 1..n") {
    import spark.implicits._
    val raw = Tables.interactions(spark, sf)
      .select(col("user_id"), col("item_id"), col("rating").cast("float").as("rating"))
    val out = Als.topNOn(raw, n = 5)
    // the seen side is materialized before the training set is
    // released: writing the frame must not re-derive orders⋈lineitem
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("parquet"), plan)

    val recs = out.select("user_id", "item_id", "rn").as[(Long, Long, Int)].collect()
    val rawPairs = raw.select("user_id", "item_id").as[(Long, Long)].collect().toSet
    assert(recs.nonEmpty)
    assert(recs.forall(r => !rawPairs((r._1, r._2))))
    recs.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq === (1 to 5))
    }
    assert(recs.map(_._1).toSet === rawPairs.map(_._1))
  }

  test("the fold-in serves' frames read no parquet once they return") {
    // the fold-in user side is materialized before the raw set is
    // released: writing either frame must not re-derive orders⋈lineitem
    for (out <- Seq(Als.foldInTopN(spark, sf), Als.implicitFoldInTopN(spark, sf))) {
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("parquet"), plan)
    }
  }
}
