package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV source layer for the reference's actual dataset (MovieLens
  * ml-latest-small, shipped read-only with the reference at
  * /root/reference/prototype/ml-latest-small/) — the Spark twin of
  * prepare_dataset.py:73-167 (pandas read_csv + dtype maps) and the
  * fidelity harness: running this engine's recommender and analytics
  * over the SAME data the reference trains on
  * (prototype/trainer.py:21-42).
  *
  * Explicit schemas (never inferSchema — an extra full scan at scale),
  * header handling, quoted multiline-free fields; the enriched movie
  * CSV uses full quoting exactly as written by prepare_dataset.py:125.
  */
object MovieLens {

  val defaultDir = "/root/reference/prototype/ml-latest-small"

  private val ratingsSchema = StructType(Seq(
    StructField("user_id", IntegerType, nullable = false),
    StructField("movie_id", IntegerType, nullable = false),
    StructField("rating", FloatType, nullable = false),
    StructField("ts", LongType, nullable = false)))

  private val moviesSchema = StructType(Seq(
    StructField("movie_id", IntegerType, nullable = false),
    StructField("title", StringType),
    StructField("year", IntegerType),
    StructField("genres", StringType),
    StructField("description", StringType)))

  private val linksSchema = StructType(Seq(
    StructField("movie_id", IntegerType, nullable = false),
    StructField("imdb_id", StringType),
    StructField("tmdb_id", IntegerType)))

  def ratings(spark: SparkSession, dir: String = defaultDir): DataFrame =
    spark.read.schema(ratingsSchema).option("header", "true")
      .csv(s"$dir/ratings.csv")
      .withColumn("ts", to_timestamp(from_unixtime(col("ts"))))

  def movies(spark: SparkSession, dir: String = defaultDir): DataFrame =
    spark.read.schema(moviesSchema)
      .option("header", "true").option("quote", "\"").option("escape", "\"")
      // descriptions written by prepare_dataset.py carry raw newlines
      // inside their quotes (e.g. movie 5047): without multiLine the
      // parser shears those rows and description text leaks into
      // `genres`. Cost note: multiLine forbids intra-file splits — fine
      // for a dim table; a 100 TB fact CSV should be newline-clean.
      .option("multiLine", "true")
      .csv(s"$dir/movies_enriched.csv")

  def links(spark: SparkSession, dir: String = defaultDir): DataFrame =
    spark.read.schema(linksSchema).option("header", "true")
      .csv(s"$dir/links.csv")

  /** controller.get_top_movies over the real dataset: votes + avg per
    * movie (rating >= 3.5), movie dim broadcast-joined, top-N.
    */
  def topMovies(spark: SparkSession, topN: Int = 20): DataFrame = {
    val r = ratings(spark).filter(col("rating") >= 3.5)
      .groupBy(col("movie_id"))
      .agg(
        round(avg(col("rating")), 4).as("avg_rating"),
        count(col("user_id")).as("votes"))
    r.join(broadcast(movies(spark)), Seq("movie_id"))
      .select(col("movie_id"), col("title"), col("avg_rating"), col("votes"))
      .orderBy(col("votes").desc, col("avg_rating").desc, col("movie_id").asc)
      .limit(topN)
  }

  /** controller.get_user_top_ratings / get_user_ratings on the real
    * data: one user's ratings joined to the movie dim, ordered by
    * (rating desc, ts desc) or (ts desc) — the two README-documented
    * REST endpoints.
    */
  def userRatings(spark: SparkSession, userId: Int, limit: Int = 20, byRating: Boolean = true): DataFrame = {
    val r = ratings(spark).filter(col("user_id") === userId)
      .join(broadcast(movies(spark)), Seq("movie_id"))
      .select(col("user_id"), col("movie_id"), col("rating"), col("ts"), col("title"), col("year"))
    val ordered =
      if (byRating) r.orderBy(col("rating").desc, col("ts").desc, col("movie_id").asc)
      else r.orderBy(col("ts").desc, col("rating").desc, col("movie_id").asc)
    ordered.limit(limit)
  }

  /** The dataset-prep enrichment analytics
    * (prepare_dataset.py:73-167): the reference derives `year` (from
    * the release date, or the classic MovieLens "Title (1995)" suffix)
    * and a pipe-joined `genres` list per movie. Re-expressed as
    * columns: a title-regex year extract (coalesced with the enriched
    * year column, which wins when the title carries no suffix) and a
    * genre split/explode, aggregated per genre with the rating stats
    * joined in — the whole derivation stays in whole-stage codegen,
    * no UDFs.
    */
  def genreStats(spark: SparkSession): DataFrame = {
    val m = movies(spark)
      .withColumn("year_derived", coalesce(
        when(regexp_extract(col("title"), "\\((\\d{4})\\)\\s*$", 1) === "", lit(null))
          .otherwise(regexp_extract(col("title"), "\\((\\d{4})\\)\\s*$", 1)).cast("int"),
        col("year")))
    val exploded = m
      .select(col("movie_id"), col("year_derived"),
        explode(split(coalesce(col("genres"), lit("")), "\\|")).as("genre"))
      .filter(col("genre") =!= "")
    val stats = ratings(spark).groupBy(col("movie_id"))
      .agg(count(col("user_id")).as("votes"), sum(col("rating")).as("rating_sum"))
    exploded.join(stats, Seq("movie_id"), "left")
      .groupBy(col("genre"))
      .agg(
        count(col("movie_id")).as("n_movies"),
        min(col("year_derived")).as("min_year"),
        max(col("year_derived")).as("max_year"),
        sum(coalesce(col("votes"), lit(0L))).as("votes"),
        // ANSI mode: guard the division — an unrated genre has 0 votes
        when(sum(coalesce(col("votes"), lit(0L))) > 0,
          round(sum(coalesce(col("rating_sum"), lit(0.0))) /
            sum(coalesce(col("votes"), lit(0L))), 4)).as("avg_rating"))
      .orderBy(col("votes").desc, col("genre").asc)
  }

  /** The reference's full training loop on its own data: ALS on the
    * 100k MovieLens ratings, RMSE/MAE on a held-out split — the
    * fidelity check against trainer.py's reported scikit-surprise SVD
    * scores (~0.87 RMSE on this dataset). Defaults are swept to the
    * plateau (rank 48, 15 iters, reg 0.14 → RMSE 0.8723 on the hash
    * split — reference parity; the surface is flat ±0.002 for rank
    * 48-96, reg 0.12-0.16, so the exact cell is not load-bearing).
    *
    * `splitSeed` re-keys the 80/20 fold hash: the sweep that picked the
    * defaults ran on the seed-0 split, so the parity claim is validated
    * on a DIFFERENT seed (MovieLensSpec's held-out-split case) — model
    * selection and the parity bar never share a test set. Seed 0 keeps
    * the exact historical `hash(user, item)` split so the pinned
    * 0.8723 stays reproducible.
    */
  def alsEval(spark: SparkSession, rank: Int = 48, maxIter: Int = 15, regParam: Double = 0.14,
              splitSeed: Int = 0): DataFrame = {
    import spark.implicits._
    val foldExpr =
      if (splitSeed == 0) pmod(hash(col("user"), col("item")), lit(5))
      else pmod(hash(col("user"), col("item"), lit(splitSeed)), lit(5))
    val all = ratings(spark)
      .select(col("user_id").as("user"), col("movie_id").as("item"), col("rating"))
      .withColumn("fold", foldExpr)
    val train = all.filter(col("fold") =!= 0).drop("fold").cache()
    val test = all.filter(col("fold") === 0).drop("fold")
    val model = graft.recommender.Als.fit(train, rank, maxIter, regParam)
    val pred = model.transform(test)
      .withColumn("prediction",
        least(lit(5.0), greatest(lit(0.5), col("prediction")))) // clamp to rating scale like surprise
      .cache()
    val rmse = new org.apache.spark.ml.evaluation.RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("rating").setPredictionCol("prediction").evaluate(pred)
    val mae = new org.apache.spark.ml.evaluation.RegressionEvaluator()
      .setMetricName("mae").setLabelCol("rating").setPredictionCol("prediction").evaluate(pred)
    val n = pred.count()
    train.unpersist()
    Seq((rank, maxIter, regParam, math.rint(rmse * 10000) / 10000,
         math.rint(mae * 10000) / 10000, n))
      .toDF("rank", "max_iter", "reg_param", "rmse", "mae", "n_test")
  }

  /** Per-user top-N recommendations over unseen movies on the real
    * dataset, with titles — the full estimator.recompute_recommendations
    * output (sans the redis write, which becomes a sink of choice).
    */
  def topNWithTitles(spark: SparkSession, n: Int = 10, sampleUsers: Int = 50): DataFrame = {
    val train = ratings(spark)
      .select(col("user_id").as("user"), col("movie_id").as("item"), col("rating"))
      .cache()
    // same swept cell as [[alsEval]] — the recs ship from the
    // reference-parity model, not the small-rank default
    val model = graft.recommender.Als.fit(train, rank = 48, maxIter = 15, regParam = 0.14)
    // scored over each sampled user's unseen movies in one pass, so a
    // user with many seen movies among their best candidates still
    // gets n
    val out = graft.recommender.Als.topNUnseen(model, train, n,
        users = col("id") <= sampleUsers)
      .join(broadcast(movies(spark).select(col("movie_id").as("item"), col("title"))), Seq("item"))
      .select(col("user").as("user_id"), col("item").as("movie_id"),
        round(col("score").cast("double"), 4).as("score"), col("rn"), col("title"))
    train.unpersist()
    out
  }
}
