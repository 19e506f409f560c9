package graft

import graft.recommender.Als
import org.scalatest.funsuite.AnyFunSuite

/** Pins the reference-exact selection protocol of [[Als.gridSearch]]
  * (trainer.py:45-60 GridSearchCV: k-fold CV per grid cell,
  * best-by-mean-RMSE) — shape and winner semantics, on a small grid so
  * the suite stays fast; the metric values themselves are rows-only
  * (ML, not oracle-checkable).
  */
class AlsGridSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("grid search runs CV per cell and elects the min-mean-RMSE winner") {
    val ranks = Seq(4)
    val regs = Seq(0.05, 0.1)
    val iters = Seq(2, 5)
    val folds = 2
    val rows = Als.gridSearch(spark, sf, ranks, regs, iters, folds).collect()
    // one row per (cell, fold) + exactly one winner row
    assert(rows.length === ranks.size * regs.size * iters.size * folds + 1)
    val winners = rows.filter(_.getAs[Long]("fold") == -1L)
    assert(winners.length === 1)
    val winner = winners.head
    // winner's mean RMSE equals the min of the per-cell fold means
    val perCell = rows.filter(_.getAs[Long]("fold") >= 0L)
      .groupBy(r => (r.getAs[Int]("rank"), r.getAs[Double]("reg_param"), r.getAs[Int]("max_iter")))
      .map { case (cell, rs) =>
        cell -> math.rint(rs.map(_.getAs[Double]("rmse")).sum / rs.size * 10000) / 10000
      }
    val bestMean = perCell.values.min
    assert(winner.getAs[Double]("rmse") === bestMean)
    assert(perCell((winner.getAs[Int]("rank"), winner.getAs[Double]("reg_param"),
      winner.getAs[Int]("max_iter"))) === bestMean)
    // every fold of every cell actually evaluated on held-out data
    assert(rows.filter(_.getAs[Long]("fold") >= 0L).forall(_.getAs[Double]("rmse") > 0.0))
    // the maxIter axis genuinely varies training: with everything else
    // fixed, 2-iter and 5-iter cells disagree on at least one fold
    val byIter = rows.filter(_.getAs[Long]("fold") >= 0L)
      .groupBy(_.getAs[Int]("max_iter")).view.mapValues(
        _.map(r => (r.getAs[Double]("reg_param"), r.getAs[Long]("fold"), r.getAs[Double]("rmse"))).toSet)
    assert(byIter(2).map(t => (t._1, t._2)) === byIter(5).map(t => (t._1, t._2)))
    assert(byIter(2) !== byIter(5))
  }

  test("implicit ALS: shaped top-N, and held-out positives outscore random negatives") {
    import org.apache.spark.sql.functions._
    val recs = Als.implicitTopN(spark, sf, n = 10).cache()
    // shape: ≤ n ranked rows per user, ranks contiguous from 1,
    // scores non-increasing along the rank
    val perUser = recs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), max(col("rn")).as("max_rn"),
        min(col("rn")).as("min_rn"))
    assert(perUser.filter(col("n") > 10 || col("max_rn") =!= col("n") ||
      col("min_rn") =!= 1).count() === 0)
    val misordered = recs.as("a").join(recs.as("b"),
      col("a.user_id") === col("b.user_id") &&
      col("a.rn") < col("b.rn") && col("a.score") < col("b.score"))
    assert(misordered.count() === 0)
    recs.unpersist()

    // ranking sanity: train on 4/5 of the confidence-weighted
    // interactions, then the model must score held-out OBSERVED pairs
    // above random unobserved (user, item) pairs on average — the
    // property that makes an implicit model a model
    val all = Als.implicitTrainingSet(spark, sf)
      .withColumn("fold", pmod(hash(col("user"), col("item")), lit(5)))
      .cache()
    val model = Als.fit(all.filter(col("fold") =!= 0).drop("fold"),
      implicitPrefs = true, alpha = 10.0)
    val heldOut = all.filter(col("fold") === 0).drop("fold", "rating")
    // negatives: held-out users paired with hash-shifted items, minus
    // anything actually observed — deterministic, same row count scale
    val negatives = heldOut
      .withColumn("item", (pmod(hash(col("user"), col("item")), lit(2000)) + 1).cast("int"))
      .join(all.select(col("user"), col("item")), Seq("user", "item"), "left_anti")
    def meanScore(df: org.apache.spark.sql.DataFrame): Double =
      model.transform(df).agg(avg(col("prediction"))).head().getDouble(0)
    val posMean = meanScore(heldOut)
    val negMean = meanScore(negatives)
    assert(posMean > negMean,
      s"held-out positives ($posMean) must outscore random negatives ($negMean)")
    all.unpersist()
  }
}
