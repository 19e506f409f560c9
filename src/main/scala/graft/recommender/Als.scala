package graft.recommender

import dev.ludovic.netlib.blas.JavaBLAS
import graft.Tables
import graft.functions.TopKAgg
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Matrix-factorization recommender — the Spark-native re-expression of
  * the reference's scikit-surprise SVD pipeline
  * (/root/reference/web/app/recommender/estimator.py:104
  * `recompute_recommendations`, /root/reference/prototype/trainer.py).
  *
  * Funk SVD and ALS fit the same low-rank user×item model; ALS is the
  * factorizer that actually distributes (block-partitioned normal
  * equations, no driver-side matrix), which is why MLlib ships it and
  * not SGD-SVD. Same capability, Spark-first execution:
  *
  *  - estimator.load_dataset  → [[graft.Tables.interactions]]
  *  - SVD.fit                 → ALS.fit (rank/maxIter/regParam ↔
  *                              n_factors/n_epochs/reg_all)
  *  - build_anti_testset + test + get_top_n
  *                            → [[topNUnseen]]: one scoring pass per
  *                              user over the item-factor blocks (the
  *                              BLAS sgemv MLlib's recommendForAll
  *                              runs) that skips the user's seen items
  *                              as it scores and keeps a top-n heap
  *  - GridSearchCV(rmse/mae)  → hash-fold fits, each fold's rmse/mae
  *                              from one aggregate ([[scoreFold]])
  *
  * The reference materializes the full anti-testset (all unseen
  * user×item pairs) in memory — O(|U|·|I|) on the driver, the exact
  * thing that cannot survive 100 TB. Here the candidate set never
  * materializes: each user's scores live one item block at a time and
  * only a per-user n-element heap survives the block.
  */
object Als {

  /** Settings of the registered ALS queries: the serve depth, the
    * regularization every fit and fold-in solve shares, the implicit
    * model's confidence scale (c = 1 + α·r), and the fold-in hold-out —
    * users with `user_id % HoldMod == HoldVal` stand in for sign-ups
    * since the last retrain.
    */
  private val ServeN = 20
  private val RegParam = 0.1
  private val ImplicitAlpha = 10.0
  private val HoldMod = 50
  private val HoldVal = 7

  /** Training input after the id seam: `train` carries int32
    * (user, item, rating); the maps are present iff the raw keys were
    * re-indexed and are needed to translate scored output back.
    * `source` is the cached raw frame backing a re-index — call
    * [[release]] once `train` is materialized (post-fit) to drop it.
    */
  private[graft] case class AlsInput(train: DataFrame,
      userMap: Option[DataFrame], itemMap: Option[DataFrame],
      source: Option[DataFrame] = None) {
    def release(): Unit = source.foreach { df => df.unpersist(); () }
  }

  /** ALS requires 32-bit ids. Keys already in int range pass through
    * with a bare cast (testdata, MovieLens); keys outside it — the
    * 100 TB norm, where user/item ids are 64-bit snowflakes or hashes —
    * get a DENSE RE-INDEX: each distinct key maps to its RANK in the
    * sorted key order (distributed sort + `zipWithIndex`, no
    * single-partition window), the training set joins through the
    * maps, and scored output joins back to the original ids. Rank is
    * well-defined regardless of how the sort's range partitioner
    * places boundaries, so the mapping is deterministic AND invariant
    * under order-preserving key translation — AlsReindexSpec pins that
    * a corpus with ids shifted by 2^33 trains to byte-identical recs.
    * The re-indexed train is canonicalized (hash-repartition on user,
    * sort within partitions) so ALS sees identical block contents in
    * identical order either way. ALS's remaining hard limit is the
    * DISTINCT entity count per side (rank must fit int32) — a bound on
    * population, not key magnitude.
    */
  private[graft] def keyedTrainingSet(raw: DataFrame, force: Boolean = false,
      boundsProbe: Option[DataFrame] = None): AlsInput = {
    val direct = AlsInput(raw.select(
      col("user_id").cast("int").as("user"),
      col("item_id").cast("int").as("item"),
      col("rating").cast("float").as("rating")), None, None)
    if (!force) {
      // `boundsProbe`, when given, is a (user_id, item_id) frame whose
      // key bounds CONTAIN raw's (caller's contract) but is cheaper to
      // scan — the fits decision only needs a conservative superset.
      // For the interactions-derived raws that is the base tables' key
      // columns: the upsert window never widens a key range, so the
      // probe skips the orders⋈lineitem + window build the bounds agg
      // otherwise re-derives and discards (r17, guide §8 "use what you
      // know": measured 2.2 s → ~0.15 s per ALS query at sf0.1).
      // Wider-than-actual probe bounds only ever flip the decision
      // toward the re-index path, which is correct for any key space.
      val b = boundsProbe.getOrElse(raw).agg(
        min(col("user_id")), max(col("user_id")),
        min(col("item_id")), max(col("item_id"))).head()
      val fits = (b.isNullAt(0) && b.isNullAt(2)) ||
        ((b.isNullAt(0) ||
          (b.getLong(0) >= Int.MinValue && b.getLong(1) <= Int.MaxValue)) &&
         (b.isNullAt(2) ||
          (b.getLong(2) >= Int.MinValue && b.getLong(3) <= Int.MaxValue)))
      if (fits) return direct
    }
    // one source scan, not four: the two zipWithIndex rank builds (each
    // eager — the size job runs at construction) and the train join all
    // re-read `raw`, whose upstream lineage (interaction joins + dedup
    // windows) is expensive to recompute. The first rank job populates
    // the cache; everything after reads it. Released by the caller
    // after training materializes `train` (AlsInput.release).
    val src = raw.cache()
    val users = denseIndex(src.select(col("user_id")), "user_id", "user")
    val items = denseIndex(src.select(col("item_id")), "item_id", "item")
    val train = src
      .join(users, Seq("user_id")).join(items, Seq("item_id"))
      .select(col("user"), col("item"), col("rating").cast("float").as("rating"))
      .repartition(col("user"))
      .sortWithinPartitions(col("user"), col("item"), col("rating"))
    AlsInput(train, Some(users), Some(items), Some(src))
  }

  /** Dense ids for one key side: distinct keys → rank in sorted order.
    * `zipWithIndex` offsets each sorted partition by the sizes before
    * it — one extra count job, zero data through the driver.
    */
  private def denseIndex(keys: DataFrame, keyCol: String, idxCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val spark = keys.sparkSession
    val rows = keys.select(col(keyCol).cast("long")).distinct().sort(keyCol)
      .rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row(r.getLong(0), i.toInt)
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField(keyCol, LongType, nullable = false),
      StructField(idxCol, IntegerType, nullable = false))))
  }

  /** Orders and lineitem, each read ONCE per ALS call: every
    * `spark.read.parquet` runs a one-task schema job, and both the raw
    * set and its bounds probe are built from the two tables.
    */
  private case class BaseTables(orders: DataFrame, lineitem: DataFrame) {
    def interactions: DataFrame = Tables.interactionsFrom(orders, lineitem)

    /** Conservative key-bounds probe for every interactions-derived
      * raw set: user ids ⊆ orders.o_custkey and item ids ⊆
      * lineitem.l_partkey (the interactions join projects them; the
      * upsert window and any downstream filter only SHRINK the key
      * set), so min/max over the two base key columns bound the raw
      * set's keys from two plain column scans — no join, no window
      * (see keyedTrainingSet's boundsProbe contract).
      */
    def boundsProbe: DataFrame =
      orders.select(col("o_custkey").as("user_id"),
          lit(null).cast("long").as("item_id"))
        .unionByName(lineitem.select(lit(null).cast("long").as("user_id"),
          col("l_partkey").as("item_id")))
  }

  private def baseTables(spark: SparkSession, sfDir: String): BaseTables =
    BaseTables(Tables.orders(spark, sfDir), Tables.lineitem(spark, sfDir))

  private def rawSet(base: BaseTables): DataFrame =
    base.interactions
      .select(col("user_id"), col("item_id"), col("rating").cast("float").as("rating"))

  def fit(train: DataFrame, rank: Int = 8, maxIter: Int = 10, regParam: Double = RegParam,
          implicitPrefs: Boolean = false, alpha: Double = 1.0, seed: Long = 42L): ALSModel = {
    // MLlib ALS only engages its iteration checkpointing when the
    // context has a checkpoint dir — without one, every iteration's
    // factor RDD chains to the previous and the whole depth rides
    // into downstream task binaries (a reference-parity 15-iter fit
    // has blown the serializer's stack after a long same-JVM session).
    // Respect a caller-configured dir; otherwise point at a temp dir.
    val sc = train.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-als-ckpt").toString)
    new ALS()
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setRank(rank).setMaxIter(maxIter).setRegParam(regParam)
      .setImplicitPrefs(implicitPrefs).setAlpha(alpha)
      .setSeed(seed)
      .setColdStartStrategy("drop")
      // truncate lineage every 5 iterations (default 10 leaves a
      // 10-deep chain at the reference cell's 15 iterations)
      .setCheckpointInterval(5)
      // default block count: at this data size more blocks only add
      // shuffle overhead (A/B-tested 10/16/32 at sf0.1); on a real
      // cluster set user/item blocks ≈ total cores
      .fit(train)
  }

  /** Per-user top-N over UNSEEN items — the reference's anti-testset
    * semantics (estimator.py's build_anti_testset + get_top_n), scored
    * in one pass by [[topNUnseen]]. Nothing is over-fetched, so there
    * is no buffer to size: a user with many seen items still gets n
    * recommendations, or all of their unseen items when fewer exist.
    */
  def topN(spark: SparkSession, sfDir: String, n: Int = ServeN): DataFrame = {
    val base = baseTables(spark, sfDir)
    topNOn(rawSet(base), n, boundsProbe = Some(base.boundsProbe))
  }

  /** [[topN]] over an explicit (user_id, item_id, rating) frame —
    * the id seam applies here: out-of-int32 keys re-index densely and
    * the output joins back to the original ids (`force` exercises the
    * re-index path on in-range keys; AlsReindexSpec).
    */
  private[graft] def topNOn(raw: DataFrame, n: Int,
                            force: Boolean = false,
                            boundsProbe: Option[DataFrame] = None): DataFrame = {
    val keyed = keyedTrainingSet(raw, force, boundsProbe)
    val train = keyed.train.cache()
    val model = fit(train)
    keyed.release()
    val out = servedTopN(train, model, n, keyed)
    train.unpersist()
    out
  }

  /** Shared serving tail of [[topNOn]] / [[implicitTopN]]: the one-pass
    * unseen top-n, then ids translated back through the re-index maps
    * when present. [[topNUnseen]] materializes its user side from the
    * cached `train` before returning, so the caller may release `train`
    * and writing the returned frame never re-derives the training set.
    */
  private def servedTopN(train: DataFrame, model: ALSModel, n: Int,
                         keyed: AlsInput): DataFrame = {
    val ranked = topNUnseen(model, train, n)
    val mapped = (keyed.userMap, keyed.itemMap) match {
      case (Some(u), Some(i)) =>
        // standard dim joins on the dense int keys; Catalyst/AQE
        // broadcasts the maps when they fit
        ranked.join(u, Seq("user")).join(i, Seq("item"))
      case _ =>
        ranked.withColumn("user_id", col("user").cast("long"))
          .withColumn("item_id", col("item").cast("long"))
    }
    mapped.select(
      col("user_id"), col("item_id"),
      round(col("score").cast("double"), 4).as("score"), col("rn"))
  }

  /** Per-user top-`n` over the items each user has NOT seen, in one
    * scoring pass — top-k selection during scoring, not after it.
    *
    * Each user carries their factor and the sorted ids of their seen
    * items ([[userSide]]). For each item-factor block, one BLAS `sgemv`
    * scores the whole block; seen items are skipped by binary search
    * and the rest go to a `TopKAgg.Heap(n)` ordered score desc, item
    * asc. The blocks are MLlib's (`recommendForAll`'s blockify of the
    * same `itemFactors`, same `blockSize`) and so is the call, so every
    * score is bit-identical to `recommendForAllUsers`'.
    *
    * User blocks cross-join item blocks as in MLlib, so no side has to
    * fit in memory: each (user block, item block) pair yields ≤ n
    * candidates per user, and a top-k aggregate merges them per user (one
    * shuffle of ≤ n × item blocks rows per user). A user who has seen
    * every item gets no rows; one with fewer than n unseen items gets
    * all.
    *
    * @param seen  (user, item) pairs, typically the cached training set
    * @param users predicate on the model's user ids (`id`): the users
    *              to score
    * @return (user int, item int, score float, rn int), rn 1 = best
    */
  private[graft] def topNUnseen(model: ALSModel, seen: DataFrame, n: Int,
                                users: Column = lit(true)): DataFrame =
    scoreUnseen(userSide(model.userFactors.filter(users), seen),
      model.itemFactors, model.rank, n, model.getBlockSize)

  /** The scorer's user side: (user, features, seen), `user` typed as
    * the factors' `id` (int for a model's users, bigint for fold-in
    * users) and `seen` holding the user's item ids sorted ascending
    * (empty when they have none). Materialized eagerly
    * (`localCheckpoint`) while `seen` is still cached, so the frames
    * built on it stop their lineage here.
    *
    * Hash-partitioned on `user`, so the cross join runs shuffle
    * partitions × item blocks tasks, not ALS user blocks × item blocks.
    */
  private[graft] def userSide(userFactors: DataFrame, seen: DataFrame): DataFrame = {
    val seenByUser = seen.groupBy(col("user").cast(userFactors.schema("id").dataType).as("user"))
      .agg(sort_array(collect_list(col("item").cast("int"))).as("seen"))
    userFactors.select(col("id").as("user"), col("features"))
      .join(seenByUser, Seq("user"), "left")
      .select(col("user"), col("features"),
        coalesce(col("seen"), array().cast("array<int>")).as("seen"))
      .repartition(col("user"))
      .localCheckpoint(eager = true)
  }

  /** [[topNUnseen]]'s scoring pass over an explicit user side
    * ([[userSide]]) and item factors (id int, features array<float>).
    * User keys ride as bigint and come back in the user side's own key
    * type.
    */
  private[graft] def scoreUnseen(users: DataFrame, itemFactors: DataFrame,
                                 rank: Int, n: Int, blockSize: Int): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val spark = users.sparkSession
    import spark.implicits._
    val blocks = itemFactors.select(col("id"), col("features"))
      .as[(Int, Array[Float])]
      .mapPartitions(_.grouped(blockSize)
        .map(b => (b.map(_._1).toArray, b.flatMap(_._2).toArray)))
    val userRows = users.select(col("user").cast("long"), col("features"), col("seen"))
      .as[(Long, Array[Float], Array[Int])]
    TopKAgg.register(spark)
    val userBlocks = userRows.mapPartitions(_.grouped(blockSize).map { b =>
      (b.map(_._1).toArray, b.flatMap(_._2).toArray, b.map(_._3).toArray)
    })
    userBlocks.crossJoin(blocks)
      .as[(Array[Long], Array[Float], Array[Array[Int]], Array[Int], Array[Float])]
      .mapPartitions { it =>
        val scores = new Array[Float](blockSize)
        it.flatMap { case (uIds, uMat, seens, iIds, iMat) =>
          Iterator.range(0, uIds.length).flatMap { j =>
            val heap = new TopKAgg.Heap(n)
            offerUnseen(heap, rank, uMat, j * rank, seens(j), iIds, iMat, scores)
            heap.sortedDesc.iterator.map { case (s, i) => (uIds(j), i.toInt, s) }
          }
        }
      }.toDF("user", "item", "score")
      .groupBy(col("user"))
      .agg(expr(s"graft_topk(score, cast(item as bigint), $n)").as("topk"))
      .select(col("user"), posexplode(col("topk")))
      .select(col("user").cast(users.schema("user").dataType).as("user"),
        col("col.id").cast("int").as("item"),
        col("col.score").cast("float").as("score"), (col("pos") + 1).as("rn"))
  }

  /** Offers one user's unseen items of one item block to `heap`: one
    * `sgemv` scores the block (the call MLlib's `recommendForAll`
    * makes), then each item not found in the sorted `seen` is offered.
    * `x` holds the user's factor at `xOff`; `scores` is scratch of at
    * least the block's length.
    */
  private def offerUnseen(heap: TopKAgg.Heap, rank: Int, x: Array[Float], xOff: Int,
                          seen: Array[Int], ids: Array[Int], mat: Array[Float],
                          scores: Array[Float]): Unit = {
    val m = ids.length
    JavaBLAS.getInstance.sgemv("T", rank, m, 1.0f, mat, 0, rank,
      x, xOff, 1, 0.0f, scores, 0, 1)
    var j = 0
    while (j < m) {
      if (java.util.Arrays.binarySearch(seen, ids(j)) < 0)
        heap.offer(scores(j).toDouble, ids(j).toLong)
      j += 1
    }
  }

  /** Implicit-feedback ALS — the reference's watched-but-unrated flow
    * (controller.py:150: viewing events become implicit rows in the
    * SAME ratings store, flagged `is_implicit`) trained the way that
    * signal should be: MLlib's built-in Hu–Koren–Volinsky implicit
    * formulation (`implicitPrefs=true`), where every observed
    * interaction is a binary preference and the rating column becomes
    * a CONFIDENCE weight (c = 1 + α·r). Explicit rows carry their
    * star rating as confidence strength; implicit rows a weak
    * constant 1.0 — a view says "observed", a 5-star rating says
    * "observed and loved". Output: per-user top-N over unseen items,
    * same anti-testset semantics as [[topN]] (rows-only; AlsGridSpec
    * pins shape, determinism, and that held-out positives outscore
    * random negatives — the ranking-sanity check the implicit model
    * must pass to be a model at all).
    */
  def implicitTopN(spark: SparkSession, sfDir: String, n: Int = ServeN): DataFrame = {
    val base = baseTables(spark, sfDir)
    val keyed = keyedTrainingSet(implicitRawSet(base),
      boundsProbe = Some(base.boundsProbe))
    val train = keyed.train.cache()
    val model = fit(train, implicitPrefs = true, alpha = ImplicitAlpha)
    keyed.release()
    val out = servedTopN(train, model, n, keyed)
    train.unpersist()
    out
  }

  // ---------------------------------------------------------------
  // fold-in: new users between retrains, no retrain

  /** Factors for NEW users solved against the FROZEN item factors —
    * the scale answer to the reference's retrain cadence gap: a user
    * who signs up between estimator.py's periodic recomputes gets only
    * the popularity fallback (controller.py:262) until the next full
    * retrain. Fold-in is the standard middle path: with item factors Y
    * frozen, one user's factor is the ridge solution
    * `x_u = (Yᵤᵀ Yᵤ + λ·n_u·I)⁻¹ Yᵤᵀ r_u` over just their rated
    * items — EXACTLY the per-user half of an ALS sweep, with MLlib's
    * own weighted-λ regularization (λ scaled by the user's rating
    * count), so folding in a user the model already trained on
    * reproduces their trained factor to float tolerance
    * (AlsFoldInSpec pins it).
    *
    * Distribution: one shuffle keyed by the NEW users (delta-sized,
    * never the corpus); each group solves a rank×rank system in
    * microseconds. Items the frozen model has never seen contribute
    * nothing (inner join) — a user with zero known items yields no
    * row, which is the honest answer (they are genuinely cold; the
    * popularity fallback still applies).
    *
    * @param ratings (user_id long, item int — the MODEL's item key
    *                space, rating float)
    * @return (user_id, features array&lt;float&gt;)
    */
  private[graft] def foldInFactors(itemFactors: DataFrame, ratings: DataFrame,
      regParam: Double): DataFrame = {
    val spark = itemFactors.sparkSession
    import spark.implicits._
    val joined = ratings
      .join(itemFactors.select(col("id").as("item"), col("features")), Seq("item"))
      .select(col("user_id").cast("long"), col("features"),
        col("rating").cast("float"))
      .as[(Long, Seq[Float], Float)]
    joined.groupByKey(_._1).mapGroups { (u, rows) =>
      var k = -1
      var a: Array[Double] = null
      var b: Array[Double] = null
      var n = 0
      rows.foreach { case (_, y, r) =>
        if (k < 0) { k = y.length; a = new Array[Double](k * k); b = new Array[Double](k) }
        var i = 0
        while (i < k) {
          val yi = y(i).toDouble
          b(i) += r * yi
          var j = 0
          while (j < k) { a(i * k + j) += yi * y(j); j += 1 }
          i += 1
        }
        n += 1
      }
      val lam = regParam * n // MLlib's weighted-λ (scaled by rating count)
      var d = 0
      while (d < k) { a(d * k + d) += lam; d += 1 }
      (u, solveSym(a, b, k).map(_.toFloat).toSeq)
    }.toDF("user_id", "features")
  }

  /** In-place Gaussian elimination with partial pivoting for the
    * rank×rank normal equations (SPD by construction; rank ≤ a few
    * hundred, so a dense direct solve per user is microseconds).
    */
  private def solveSym(a: Array[Double], b: Array[Double], k: Int): Array[Double] = {
    var col0 = 0
    while (col0 < k) {
      var p = col0; var r = col0 + 1
      while (r < k) { if (math.abs(a(r * k + col0)) > math.abs(a(p * k + col0))) p = r; r += 1 }
      if (p != col0) {
        var j = 0
        while (j < k) {
          val t = a(col0 * k + j); a(col0 * k + j) = a(p * k + j); a(p * k + j) = t; j += 1
        }
        val tb = b(col0); b(col0) = b(p); b(p) = tb
      }
      val piv = a(col0 * k + col0)
      r = col0 + 1
      while (r < k) {
        val f = a(r * k + col0) / piv
        if (f != 0.0) {
          var j = col0
          while (j < k) { a(r * k + j) -= f * a(col0 * k + j); j += 1 }
          b(r) -= f * b(col0)
        }
        r += 1
      }
      col0 += 1
    }
    val x = new Array[Double](k)
    var i = k - 1
    while (i >= 0) {
      var s = b(i); var j = i + 1
      while (j < k) { s -= a(i * k + j) * x(j); j += 1 }
      x(i) = s / a(i * k + i)
      i -= 1
    }
    x
  }

  /** Yᵀ·Y over ALL item factors — the k×k Gram matrix the implicit
    * fold-in solve needs (Hu–Koren's trick: the sum over UNOBSERVED
    * items collapses to this one corpus-level term). One distributed
    * treeAggregate; the result is rank² doubles (rank ≤ a few hundred
    * → ≤ a few hundred KB), driver-held and broadcast — never a
    * per-user recomputation.
    */
  private[graft] def gramMatrix(itemFactors: DataFrame): Array[Double] =
    itemFactors.select(col("features")).rdd
      .map(_.getSeq[Float](0))
      .treeAggregate(Array.empty[Double])(
        (acc, y) => {
          val k = y.length
          val a = if (acc.isEmpty) new Array[Double](k * k) else acc
          var i = 0
          while (i < k) {
            val yi = y(i).toDouble
            var j = 0
            while (j < k) { a(i * k + j) += yi * y(j); j += 1 }
            i += 1
          }
          a
        },
        (a, b) =>
          if (a.isEmpty) b
          else if (b.isEmpty) a
          else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })

  /** Implicit-model fold-in (Hu–Koren–Volinsky): a new user's factor
    * against FROZEN implicit item factors is
    * `x_u = (YᵀY + Σ_obs αr·y yᵀ + λ·n_u·I)⁻¹ Σ_obs (1+αr)·y`
    * — confidence c = 1 + α·r enters the normal equations only for
    * OBSERVED items; the all-items preference-0 mass is the shared
    * [[gramMatrix]] term. λ matches MLlib's implicit convention
    * (regParam × the user's positive-interaction count), and MLlib's
    * implicit loop also ends on a user update against the final item
    * factors, so — exactly as in the explicit path — folding in a
    * TRAINED user reproduces their trained factor to float tolerance
    * (AlsImplicitFoldInSpec pins it).
    *
    * Same distribution shape as [[foldInFactors]]: one delta-sized
    * shuffle keyed by the new users; item factors never shuffle; each
    * group is a rank×rank direct solve.
    *
    * @param ratings (user_id long, item int — the MODEL's item key
    *                space, rating float = the CONFIDENCE source r > 0)
    */
  private[graft] def implicitFoldInFactors(itemFactors: DataFrame, ratings: DataFrame,
      regParam: Double, alpha: Double): DataFrame = {
    val spark = itemFactors.sparkSession
    import spark.implicits._
    val bcGram = spark.sparkContext.broadcast(gramMatrix(itemFactors))
    val joined = ratings
      .join(itemFactors.select(col("id").as("item"), col("features")), Seq("item"))
      .select(col("user_id").cast("long"), col("features"),
        col("rating").cast("float"))
      .as[(Long, Seq[Float], Float)]
    joined.groupByKey(_._1).mapGroups { (u, rows) =>
      var k = -1
      var a: Array[Double] = null
      var b: Array[Double] = null
      var n = 0
      rows.foreach { case (_, y, r) =>
        if (k < 0) {
          k = y.length
          a = bcGram.value.clone()
          b = new Array[Double](k)
        }
        val c1 = alpha * math.abs(r.toDouble) // c_ui − 1
        var i = 0
        while (i < k) {
          val yi = y(i).toDouble
          b(i) += (1.0 + c1) * yi
          var j = 0
          while (j < k) { a(i * k + j) += c1 * yi * y(j); j += 1 }
          i += 1
        }
        if (r > 0f) n += 1
      }
      val lam = regParam * n // MLlib's implicit weighted-λ (positive count)
      var d = 0
      while (d < k) { a(d * k + d) += lam; d += 1 }
      (u, solveSym(a, b, k).map(_.toFloat).toSeq)
    }.toDF("user_id", "features")
  }

  /** The fold-in SERVING path end-to-end (registered as
    * `als_fold_in`): train on the base population, hold out a slice of
    * users as "signed up since the last retrain", fold their factors
    * in against the frozen item factors, and serve each of them the
    * top `ServeN` over their unseen items through the same one-pass
    * kernel as [[topN]] ([[scoreUnseen]]).
    *
    * The scores are the float `sgemv` ones `recommendForAllUsers`
    * computes, and they are this query's oracle: a double-precision
    * kernel would be a second unseen top-n path, so there is none.
    * Id seam: items translate through the re-index map when present;
    * fold-in user ids never need translating (they stay original longs
    * — fold-in is per-user independent, no int32 contract).
    */
  def foldInTopN(spark: SparkSession, sfDir: String): DataFrame = {
    val base = baseTables(spark, sfDir)
    foldInServe(rawSet(base), t => fit(t),
      (yf, r) => foldInFactors(yf, r, RegParam), base.boundsProbe)
  }

  /** [[foldInTopN]] for the IMPLICIT model (registered as
    * `als_implicit_fold_in`): the same hold-out serve, with the
    * confidence-weighted raw set, `implicitPrefs` training, and the
    * Hu–Koren fold-in solve ([[implicitFoldInFactors]]) — closing the
    * between-retrains serving gap for BOTH models (estimator.py:104
    * leaves new users to the popularity fallback until the next
    * periodic recompute; controller.py:150's implicit rows deserve
    * the same freshness).
    */
  def implicitFoldInTopN(spark: SparkSession, sfDir: String): DataFrame = {
    val base = baseTables(spark, sfDir)
    foldInServe(implicitRawSet(base),
      t => fit(t, implicitPrefs = true, alpha = ImplicitAlpha),
      (yf, r) => implicitFoldInFactors(yf, r, RegParam, ImplicitAlpha),
      base.boundsProbe)
  }

  /** Shared hold-out → train → fold-in → serve pipeline of
    * [[foldInTopN]] / [[implicitFoldInTopN]]; `fitFn` and `foldFn`
    * carry the model-specific halves.
    */
  private def foldInServe(rawIn: DataFrame, fitFn: DataFrame => ALSModel,
                          foldFn: (DataFrame, DataFrame) => DataFrame,
                          boundsProbe: DataFrame): DataFrame = {
    val raw = rawIn.cache()
    val newSide = raw.filter(col("user_id") % HoldMod === HoldVal)
    val baseSide = raw.filter(col("user_id") % HoldMod =!= HoldVal)
    // the hold-out filter only shrinks the key set, so the caller's
    // probe bounds still contain baseSide's
    val keyed = keyedTrainingSet(baseSide, boundsProbe = Some(boundsProbe))
    val train = keyed.train.cache()
    val model = fitFn(train)
    keyed.release()
    train.unpersist() // fit materialized it; the serving path needs only factors
    val newKeyed = keyed.itemMap match {
      case Some(im) => newSide.join(im, Seq("item_id"))
        .select(col("user_id"), col("item"), col("rating"))
      case None => newSide
        .select(col("user_id"), col("item_id").cast("int").as("item"), col("rating"))
    }
    // built while `raw` is cached: its eager checkpoint ends the
    // returned frame's lineage here
    val users = userSide(
      foldFn(model.itemFactors, newKeyed).withColumnRenamed("user_id", "id"),
      newKeyed.select(col("user_id").as("user"), col("item")))
    raw.unpersist()
    val top = scoreUnseen(users, model.itemFactors, model.rank, ServeN, model.getBlockSize)
      .withColumnRenamed("user", "user_id")
    val out = keyed.itemMap match {
      case Some(im) => top.join(im, Seq("item"))
      case None => top.withColumn("item_id", col("item").cast("long"))
    }
    out.select(col("user_id"), col("item_id"),
      round(col("score").cast("double"), 4).as("score"), col("rn"))
  }

  /** Confidence-weighted raw rows for the implicit model — same id
    * seam as the explicit path ([[keyedTrainingSet]]).
    */
  private def implicitRawSet(base: BaseTables): DataFrame =
    base.interactions
      .select(
        col("user_id"), col("item_id"),
        when(col("is_implicit"), lit(1.0))
          .otherwise(col("rating")).cast("float").as("rating"))

  /** Int-cast implicit training set (kept for spec use; the query
    * path routes through [[implicitRawSet]] + the id seam).
    */
  private[graft] def implicitTrainingSet(spark: SparkSession, sfDir: String): DataFrame = {
    val base = baseTables(spark, sfDir)
    keyedTrainingSet(implicitRawSet(base), boundsProbe = Some(base.boundsProbe)).train
  }

  /** The training set with a deterministic hash fold in `fold`
    * (0 until k), cached: every fold's fit and scoring reads it.
    */
  private def foldedSet(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val base = baseTables(spark, sfDir)
    keyedTrainingSet(rawSet(base), boundsProbe = Some(base.boundsProbe)).train
      .withColumn("fold", pmod(hash(col("user"), col("item")), lit(k)))
      .cache()
  }

  /** One fold of a train/validation protocol: fit on every fold of
    * `all` but `f`, predict fold `f`, and return its (rmse, mae, n_test)
    * from one aggregate — each metric rounded to 4 places.
    */
  private def scoreFold(all: DataFrame, f: Int, rank: Int, maxIter: Int,
                        regParam: Double): (Double, Double, Long) = {
    val model = fit(all.filter(col("fold") =!= f).drop("fold"), rank, maxIter, regParam)
    val err = col("prediction").cast("double") - col("rating").cast("double")
    val m = model.transform(all.filter(col("fold") === f).drop("fold"))
      .agg(sqrt(avg(err * err)), avg(abs(err)), count(lit(1))).head()
    (math.rint(m.getDouble(0) * 10000) / 10000,
     math.rint(m.getDouble(1) * 10000) / 10000, m.getLong(2))
  }

  /** RMSE + MAE on a deterministic 80/20 split — the reference's
    * evaluation measures (trainer.py:57 GridSearchCV measures=['rmse','mae']).
    */
  def evaluate(spark: SparkSession, sfDir: String, rank: Int = 8, maxIter: Int = 10,
               regParam: Double = RegParam): DataFrame = {
    import spark.implicits._
    val all = foldedSet(spark, sfDir, 5)
    val (rmse, mae, nTest) = scoreFold(all, 0, rank, maxIter, regParam)
    all.unpersist()
    Seq((rank, maxIter, regParam, rmse, mae, nTest))
      .toDF("rank", "max_iter", "reg_param", "rmse", "mae", "n_test")
  }

  /** K-fold cross-validation (the reference's 3-fold CV,
    * trainer.py:45 `find_best_params(cv=3)`): deterministic hash
    * folds, one distributed fit per fold, mean±range RMSE/MAE.
    */
  def crossValidate(spark: SparkSession, sfDir: String, folds: Int = 3,
                    rank: Int = 8, maxIter: Int = 5, regParam: Double = RegParam): DataFrame = {
    import spark.implicits._
    val all = foldedSet(spark, sfDir, folds)
    val rows = (0 until folds).map { f =>
      val (rmse, mae, nTest) = scoreFold(all, f, rank, maxIter, regParam)
      (f, rmse, mae, nTest)
    }
    all.unpersist()
    rows.toDF("fold", "rmse", "mae", "n_test")
  }

  /** Joint grid × k-fold CV selection — the reference's exact
    * protocol (trainer.py:45-60 `find_best_params`: GridSearchCV with
    * cv=3 runs 3-fold CV PER GRID CELL and picks best-by-MEAN-RMSE,
    * not a single train/validation sweep). The grid covers all three
    * reference dimensions with an ALS analog — `n_factors` ↔ rank,
    * `reg_all` ↔ regParam, `n_epochs` ↔ maxIter (`lr_all` has no
    * analog: ALS solves normal equations, no learning rate). Output:
    * one row per (cell, fold) with its RMSE/MAE, plus one winner row
    * (fold = -1) carrying the winning cell's mean metrics —
    * |grid|·folds + 1 rows.
    *
    * Scale shape: folds are deterministic hash buckets (no
    * materialized splits); each of the |grid|·folds fits is itself a
    * distributed ALS job, so the sweep parallelizes across the
    * cluster one fit at a time — the same shape MLlib's own
    * CrossValidator schedules. Grid kept small so the verify gate
    * stays fast.
    */
  def gridSearch(spark: SparkSession, sfDir: String,
                 ranks: Seq[Int] = Seq(4, 8), regs: Seq[Double] = Seq(0.05, 0.1),
                 iters: Seq[Int] = Seq(5, 10), folds: Int = 3): DataFrame = {
    import spark.implicits._
    val all = foldedSet(spark, sfDir, folds)
    val cells = for (r <- ranks; reg <- regs; it <- iters) yield (r, reg, it)
    val perFold = cells.flatMap { case (r, reg, it) =>
      (0 until folds).map { f =>
        val (rmse, mae, _) = scoreFold(all, f, r, it, reg)
        (r, reg, it, f.toLong, rmse, mae)
      }
    }
    all.unpersist()
    // winner = min mean RMSE across folds (ties → smaller rank, then
    // smaller reg, then fewer iters — deterministic selection),
    // surfaced as fold = -1
    val means = perFold.groupBy(r => (r._1, r._2, r._3)).map { case ((r, reg, it), rows) =>
      (r, reg, it,
        math.rint(rows.map(_._5).sum / rows.size * 10000) / 10000,
        math.rint(rows.map(_._6).sum / rows.size * 10000) / 10000)
    }.toSeq
    val best = means.minBy(m => (m._4, m._1, m._2, m._3))
    val winner = (best._1, best._2, best._3, -1L, best._4, best._5)
    (perFold :+ winner)
      .toDF("rank", "reg_param", "max_iter", "fold", "rmse", "mae")
      .orderBy(col("fold").asc, col("rank").asc, col("reg_param").asc, col("max_iter").asc)
  }
}
