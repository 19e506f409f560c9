package graft

import graft.recommender.Als
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fold-in (new-user factors against frozen item factors). Gates:
  *  - PARITY: folding in a user the model trained on reproduces their
  *    trained factor — fold-in solves the same weighted-λ normal
  *    equations as the ALS user half-sweep, and MLlib's explicit loop
  *    ends on a user update, so the trained factor IS the fold-in
  *    answer up to float32 accumulation;
  *  - ranking sanity on genuinely held-out users: their held-back
  *    positive items outscore deterministic random negatives;
  *  - determinism and shape of the registered serving query.
  */
class AlsFoldInSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("folding in a trained user's own ratings reproduces their trained factor") {
    import spark.implicits._
    val train = Als.keyedTrainingSet(
      Tables.interactions(spark, sf)
        .select(col("user_id"), col("item_id"), col("rating").cast("float").as("rating"))
    ).train.cache()
    val reg = 0.1
    val model = Als.fit(train, regParam = reg)
    val ratings = train
      .select(col("user").cast("long").as("user_id"), col("item"), col("rating"))
    val folded = Als.foldInFactors(model.itemFactors, ratings, reg)
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

  test("fold-in recs rank held-back positives above random negatives; deterministic") {
    // hold out users (the registered query's split), but also hold
    // back each fold-in user's TOP-rated item from the fold-in input:
    // a sane model must score it above a deterministic random
    // unseen item on average
    val recs = Als.foldInTopN(spark, sf).cache()
    assert(recs.count() > 0)
    // shape: exactly n rows per served user, rn dense 1..n
    val perUser = recs.groupBy(col("user_id")).agg(count(lit(1)).as("c"),
      max(col("rn")).as("mx")).collect()
    assert(perUser.forall(r => r.getLong(1) === 20L && r.getInt(2) === 20))
    // determinism: a second run is byte-identical
    val again = Als.foldInTopN(spark, sf)
    assert(recs.exceptAll(again).count() === 0)
    assert(again.exceptAll(recs).count() === 0)
    // ranking sanity: fold in on all-but-top-rated, check the held
    // item's score percentile among all items for that user
    import spark.implicits._
    val raw = Tables.interactions(spark, sf)
      .select(col("user_id"), col("item_id"), col("rating").cast("float").as("rating"))
      .filter(col("user_id") % 50 === 7).cache()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("rating").desc, col("item_id").asc)
    val ranked = raw.withColumn("rk", row_number().over(w))
    val held = ranked.filter(col("rk") === 1).select(col("user_id"), col("item_id"))
    val rest = ranked.filter(col("rk") > 1).drop("rk")
    val base = Tables.interactions(spark, sf)
      .select(col("user_id"), col("item_id"), col("rating").cast("float").as("rating"))
      .filter(col("user_id") % 50 =!= 7)
    val keyed = Als.keyedTrainingSet(base)
    val model = Als.fit(keyed.train.cache(), regParam = 0.1)
    keyed.release()
    val folded = Als.foldInFactors(model.itemFactors,
      rest.select(col("user_id"), col("item_id").cast("int").as("item"), col("rating")), 0.1)
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
    // deterministic "random" negative per user: hash-picked unseen item
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
    val cmp = heldScores.join(negScores, Seq("user_id"))
      .agg(avg((col("pos_score") > col("neg_score")).cast("double")).as("win_rate"))
      .head().getDouble(0)
    assert(cmp > 0.5, f"held-back positives beat random negatives only $cmp%.2f of the time")
    raw.unpersist(); scored.unpersist(); recs.unpersist()
    ()
  }
}
