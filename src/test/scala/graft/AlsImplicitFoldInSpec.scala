package graft

import graft.recommender.Als
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Implicit-model fold-in (Hu–Koren–Volinsky confidence-weighted solve
  * against frozen implicit item factors). Gates mirror AlsFoldInSpec:
  *  - PARITY: folding in a user the implicit model trained on
  *    reproduces their trained factor — the fold-in solves the same
  *    `(YᵀY + Σ αr·yyᵀ + λnI) x = Σ (1+αr)·y` normal equations as
  *    MLlib's implicit user half-sweep, and the training loop ends on
  *    a user update against the final item factors;
  *  - ranking sanity: held-out users' OBSERVED items outscore
  *    deterministic random unobserved items (the implicit model's
  *    entire job is ordering observed above unobserved);
  *  - determinism and shape of the registered serving query.
  */
class AlsImplicitFoldInSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def confidenceSet() =
    Tables.interactions(spark, sf)
      .select(
        col("user_id"), col("item_id"),
        when(col("is_implicit"), lit(1.0))
          .otherwise(col("rating")).cast("float").as("rating"))

  test("folding in a trained user's own interactions reproduces their trained implicit factor") {
    val reg = 0.1
    val alpha = 10.0
    val train = Als.keyedTrainingSet(confidenceSet()).train.cache()
    val model = Als.fit(train, regParam = reg, implicitPrefs = true, alpha = alpha)
    val ratings = train
      .select(col("user").cast("long").as("user_id"), col("item"), col("rating"))
    val folded = Als.implicitFoldInFactors(model.itemFactors, ratings, reg, alpha)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val trained = model.userFactors
      .collect().map(r => r.getInt(0).toLong -> r.getSeq[Float](1)).toMap
    assert(folded.keySet === trained.keySet)
    val worst = trained.keysIterator.map { u =>
      val (f, t) = (folded(u), trained(u))
      val num = f.zip(t).map { case (a, b) => math.abs(a - b) }.max.toDouble
      val den = t.map(x => math.abs(x.toDouble)).max.max(1e-6)
      num / den
    }.max
    assert(worst < 1e-2, f"worst relative factor deviation $worst%.4g")
    train.unpersist()
    ()
  }

  test("implicit fold-in recs: shape, determinism, observed-beats-random ranking") {
    val recs = Als.implicitFoldInTopN(spark, sf).cache()
    assert(recs.count() > 0)
    val perUser = recs.groupBy(col("user_id")).agg(count(lit(1)).as("c"),
      max(col("rn")).as("mx")).collect()
    assert(perUser.forall(r => r.getLong(1) === 20L && r.getInt(2) === 20))
    val again = Als.implicitFoldInTopN(spark, sf)
    assert(recs.exceptAll(again).count() === 0)
    assert(again.exceptAll(recs).count() === 0)

    // ranking sanity: fold each held-out user in on all-but-one
    // observed item; held-back OBSERVED items must outscore
    // deterministic hash-picked unobserved items ON AVERAGE (mean
    // comparison over a %10 hold-out — 15 users at sf0.001 — matching
    // AlsGridSpec's implicit gate; a per-user win rate over the %50
    // slice's 3 users is a coin-flip-sized sample)
    val raw = confidenceSet().filter(col("user_id") % 10 === 7).cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("rating").desc, col("item_id").asc)
    val ranked = raw.withColumn("rk", row_number().over(w))
    val held = ranked.filter(col("rk") === 1).select(col("user_id"), col("item_id"))
    val rest = ranked.filter(col("rk") > 1).drop("rk")
    val base = confidenceSet().filter(col("user_id") % 10 =!= 7)
    val keyed = Als.keyedTrainingSet(base)
    val model = Als.fit(keyed.train.cache(), regParam = 0.1,
      implicitPrefs = true, alpha = 10.0)
    keyed.release()
    val folded = Als.implicitFoldInFactors(model.itemFactors,
      rest.select(col("user_id"), col("item_id").cast("int").as("item"), col("rating")),
      0.1, 10.0)
    graft.functions.VectorFunctions.register(spark)
    val scored = model.itemFactors.select(col("id").as("item"), col("features").as("yf"))
      .join(broadcast(folded), lit(true))
      .withColumn("score",
        expr("graft_dot(cast(features as array<double>), cast(yf as array<double>))"))
      .select(col("user_id"), col("item"), col("score"))
      .cache()
    val heldScores = scored
      .join(held.select(col("user_id"), col("item_id").cast("int").as("item")),
        Seq("user_id", "item"))
      .select(col("user_id"), col("score").as("pos_score"))
    val negScores = scored
      .join(rest.select(col("user_id"), col("item_id").cast("int").as("item")),
        Seq("user_id", "item"), "left_anti")
      .join(held.select(col("user_id"), col("item_id").cast("int").as("item")),
        Seq("user_id", "item"), "left_anti")
      .withColumn("hrk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(abs(hash(col("user_id"), col("item"))).asc, col("item").asc)))
      .filter(col("hrk") === 1)
      .select(col("user_id"), col("score").as("neg_score"))
    val posMean = heldScores.agg(avg(col("pos_score"))).head().getDouble(0)
    val negMean = negScores.agg(avg(col("neg_score"))).head().getDouble(0)
    assert(posMean > negMean,
      f"held-back observed items ($posMean%.4f) must outscore random negatives ($negMean%.4f)")
    raw.unpersist(); scored.unpersist(); recs.unpersist()
    ()
  }
}
