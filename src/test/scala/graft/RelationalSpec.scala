package graft

import graft.operators.{Analytics, Relational}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("movieStats respects the minimum-voter HAVING threshold") {
    val df = Relational.movieStats(spark, sf).cache()
    assert(df.count() > 0)
    assert(df.filter(col("count_users") <= 5).count() === 0)
    df.unpersist()
  }

  test("topMovies is sorted by votes desc, avg desc and capped") {
    val rows = Relational.topMovies(spark, sf, topN = 10).collect()
    assert(rows.length === 10)
    val keys = rows.map(r => (r.getAs[Long]("votes"), r.getAs[Double]("avg_rating")))
    assert(keys.sliding(2).forall { case Array(a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 >= b._2) })
  }

  test("userTopRatings emits at most k rows per user, rank-ordered") {
    val df = Relational.userTopRatings(spark, sf, k = 5)
    val over = df.groupBy("user_id").count().filter(col("count") > 5)
    assert(over.count() === 0)
  }

  test("recsFallback never recommends an item the user has seen") {
    val userId = 1L
    val seen = Tables.interactions(spark, sf)
      .filter(col("user_id") === userId).select("item_id").distinct()
    val recs = Relational.recsFallback(spark, sf, userId = userId)
    assert(recs.join(seen, Seq("item_id"), "inner").count() === 0)
  }

  test("roundHalf lands on the half-star lattice within [0.5, 5.0]") {
    val bad = Relational.roundHalf(spark, sf)
      .filter(col("half_star") < 0.5 || col("half_star") > 5.0 ||
        (col("half_star") * 2) =!= round(col("half_star") * 2))
    assert(bad.count() === 0)
  }

  test("incremental cooc merge reproduces the batch recompute exactly") {
    import org.apache.spark.sql.functions._
    // the IVM identity: cooc(old ∪ Δ) == increment(cooc(old), Δ).
    // cooccurrence() is the batch path (cap inactive at test SF)
    val inc = operators.ItemCF.coocIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = operators.ItemCF.cooccurrence(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    assert(inc === batch)
  }

  test("incremental cooc with an empty delta is the identity") {
    import org.apache.spark.sql.functions._
    val base = Tables.interactions(spark, sf)
      .select(col("user_id"), col("item_id"))
    val cooc = operators.ItemCF.cooccurrence(spark, sf, minUsers = 1)
    val merged = operators.ItemCF.coocIncrement(base, cooc, base.limit(0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val orig = cooc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged === orig)
  }

  test("q1 aggregates the full lineitem rowcount") {
    val total = Analytics.q1Agg(spark, sf).agg(sum("count_order")).head().getLong(0)
    assert(total === Tables.lineitem(spark, sf).count())
  }

  test("sessionize covers every event exactly once") {
    val n = Analytics.sessionize(spark, sf).agg(sum("n_events")).head().getLong(0)
    assert(n === Tables.events(spark, sf).count())
  }
}
