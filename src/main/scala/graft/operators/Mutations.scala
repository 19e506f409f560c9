package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lake-native re-expression of the reference's mutation surface —
  * the REST writes in /root/reference/web/app/controller.py:
  *
  *  - set_movie_rating (PUT, controller.py:107): upsert, rating
  *    normalized to half-stars
  *  - delete_movie_rating (DELETE, controller.py:132)
  *  - set_movie_watched (PUT, controller.py:150): implicit rating =
  *    current item average else default
  *
  * On a lake these become a CDC batch merged into the ratings fact:
  * updates carry an op (upsert/delete) and a batch timestamp; merge =
  * union + latest-wins window + tombstone filter. The same merge runs
  * identically as a Structured Streaming foreachBatch sink at scale.
  */
object Mutations {

  /** Normalize to the reference's half-star lattice, clamped to
    * [0.5, 5.0] (controller.round_rating + the 0.5..5.0 Reader scale).
    */
  def normalizeRating(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(lit(5.0), greatest(lit(0.5), round(c * 2.0) / 2.0))

  /** Merge a mutation batch into a ratings snapshot.
    *
    * @param base    current ratings: (user_id, item_id, rating, is_implicit, ts)
    * @param updates batch: (user_id, item_id, rating, is_implicit, ts, op)
    *                with op ∈ {"upsert", "delete"}
    * @return        next snapshot, same schema as base
    */
  def applyBatch(base: DataFrame, updates: DataFrame): DataFrame = {
    val cols = Seq("user_id", "item_id", "rating", "is_implicit", "ts")
    val unioned = base
      .select(cols.map(col): _*)
      .withColumn("op", lit("upsert"))
      .unionByName(updates
        .withColumn("rating", normalizeRating(col("rating")))
        .select((cols :+ "op").map(col): _*))
    // latest ts wins; a same-ts upsert/delete conflict resolves to the
    // upsert ("upsert" > "delete" lexicographically, op desc)
    val w = Window.partitionBy(col("user_id"), col("item_id"))
      .orderBy(col("ts").desc, col("op").desc)
    unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(cols.map(col): _*)
  }

  /** Delta form of [[applyBatch]] for a bucketed snapshot store
    * ([[graft.streaming.BucketStore]]): resolves the batch against
    * ONLY the touched keys' current rows — work ∝ batch, never the
    * snapshot.
    *
    * @param baseTouched current snapshot rows of the batch's keys
    *                    (pruned store read, semi-joined to the batch)
    * @param updates     batch: (user_id, item_id, rating, is_implicit,
    *                    ts, op) with op ∈ {"upsert", "delete"}
    * @return (post-merge rows for keys that SURVIVE,
    *          keys whose winner is a delete — the tombstone set)
    */
  def applyBatchDelta(baseTouched: DataFrame, updates: DataFrame): (DataFrame, DataFrame) = {
    val cols = Seq("user_id", "item_id", "rating", "is_implicit", "ts")
    val unioned = baseTouched
      .select(cols.map(col): _*)
      .withColumn("op", lit("upsert"))
      .unionByName(updates
        .withColumn("rating", normalizeRating(col("rating")))
        .select((cols :+ "op").map(col): _*))
    // same resolution as applyBatch: latest ts wins, same-ts conflicts
    // resolve to the upsert
    val w = Window.partitionBy(col("user_id"), col("item_id"))
      .orderBy(col("ts").desc, col("op").desc)
    val resolved = unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    (resolved.filter(col("op") =!= "delete").select(cols.map(col): _*),
     resolved.filter(col("op") === "delete").select(col("user_id"), col("item_id")))
  }

  /** User-dimension CDC merge — the reference's add_user/delete_user
    * REST surface (controller.py:23-45, routes.py:31-48) as a batch
    * merge, same latest-wins + tombstone shape as [[applyBatch]].
    *
    * @param base    current user dim: (user_id, name, segment)
    * @param updates batch: (user_id, name, segment, bts, op) with
    *                op ∈ {"upsert", "delete"}; bts is the batch
    *                sequence (base rows rank as bts = 0)
    * @return        next user snapshot, same schema as base
    */
  def applyUserBatch(base: DataFrame, updates: DataFrame): DataFrame = {
    val cols = Seq("user_id", "name", "segment")
    val unioned = base
      .select(cols.map(col): _*)
      .withColumn("bts", lit(0L))
      .withColumn("op", lit("upsert"))
      .unionByName(updates.select((cols ++ Seq("bts", "op")).map(col): _*))
    // latest batch wins; a same-batch upsert/delete conflict resolves
    // to the upsert ("upsert" > "delete" lexicographically, op desc).
    // name/segment complete the total order: two same-batch upserts
    // for one user would otherwise resolve to an arbitrary winner
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("bts").desc, col("op").desc, col("name").asc, col("segment").asc)
    unioned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(cols.map(col): _*)
  }

  /** FK cascade (reference models.py: Rating.user_id → User): only
    * ratings whose user survives in the merged dim are kept — a
    * deleted user's ratings tombstone with them.
    */
  def cascadeToRatings(ratings: DataFrame, mergedUsers: DataFrame): DataFrame =
    ratings.join(mergedUsers.select(col("user_id")), Seq("user_id"), "left_semi")

  /** Oracle-gated user-CDC snapshot (`q_user_mutations`): applies a
    * deterministic, data-derived mutation batch to the customer dim —
    * custkey % 97 = 0 → delete, % 89 = 0 → upsert (rename + segment
    * move; wins over a same-batch delete), % 101 = 0 → a NEW user id
    * (+10M offset) — then merges, cascades, and reports the surviving
    * users with their post-cascade rating counts.
    */
  def userMutationsSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = graft.Tables.customer(spark, sfDir).select(
      col("c_custkey").as("user_id"),
      col("c_name").as("name"),
      col("c_mktsegment").as("segment"))
    val dels = cust.filter(col("user_id") % 97 === 0)
      .withColumn("op", lit("delete"))
    val upds = cust.filter(col("user_id") % 89 === 0)
      .select(col("user_id"),
        concat(col("name"), lit(" [renamed]")).as("name"),
        lit("REACTIVATED").as("segment"))
      .withColumn("op", lit("upsert"))
    val adds = cust.filter(col("user_id") % 101 === 0)
      .select((col("user_id") + 10000000L).as("user_id"),
        concat(lit("NEW "), col("name")).as("name"),
        lit("SIGNUP").as("segment"))
      .withColumn("op", lit("upsert"))
    val updates = dels.unionByName(upds).unionByName(adds)
      .withColumn("bts", lit(1L))
    val merged = applyUserBatch(cust, updates)
    val ratings = graft.Tables.interactions(spark, sfDir)
      .select(col("user_id"), col("item_id"))
    val surviving = cascadeToRatings(ratings, merged)
    val counts = surviving.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ratings"))
    merged.join(counts, Seq("user_id"), "left")
      .select(col("user_id"), col("name"), col("segment"),
        coalesce(col("n_ratings"), lit(0L)).as("n_ratings"))
  }

  /** Oracle-gated CDC snapshot lifecycle through the bucketed store
    * (`q_ratings_cdc_store`) — the ratings twin of
    * [[graft.operators.ItemCF.coocIncrementalStore]] (each rung runs
    * its maintainer's own named tick), and the HASH-GATED proof of the regime
    * [[graft.streaming.EventStream.startCdcApply]] runs: the ratings
    * fact is seeded into a [[graft.streaming.BucketStore]] on
    * `pmod(user_id, nBuckets)`, one deterministic data-derived CDC
    * batch applies through the maintainer's OWN tick body
    * ([[graft.streaming.EventStream.cdcMergeTick]] — pruned
    * touched-bucket read, [[applyBatchDelta]] resolved once inside
    * `applyTick`'s write, tombstones dropped with the batch keys),
    * and the result is the post-apply store read back
    * from disk. Oracle = the same batch merged in plain SQL
    * (union + latest-wins window + tombstone filter).
    *
    * The batch exercises every CDC path, including the one the
    * streaming specs can only spec-gate:
    *  - `user_id % nBuckets = 5` → delete ALL of those users' rows:
    *    bucket 5 is EMPTIED, so the tick must drop it from the
    *    manifest (the tombstone-manifest path, now value-checked);
    *  - `user_id % 97 = 0` → spread deletes across buckets;
    *  - `user_id % 89 = 0` (outside bucket 5) → re-rate upserts,
    *    including same-ts delete/upsert conflicts on `% 97` overlaps
    *    (upsert wins, op-desc tie-break — both sides);
    *  - `user_id % 101 = 0` (outside bucket 5) → brand-new keys
    *    (`item_id + 10M`), the insert path.
    *
    * `ts` returns as a formatted day string so the date round-trips
    * engine-independently. Store path follows the shared-FS artifacts
    * contract; the seed clears any previous run's store, so reruns
    * rebuild rather than replay-skip against a stale marker.
    */
  def cdcSnapshotStore(spark: SparkSession, sfDir: String, nBuckets: Int = 64,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    import graft.streaming.BucketStore
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val storeDir = s"$artifactDir/ratings_cdc_store_$digest"
    val base = graft.Tables.interactions(spark, sfDir).cache()
    graft.PhaseTimer.timed("q_ratings_cdc_store", "seed") {
      BucketStore.seed(base, BucketStore.longBucket(col("user_id"), nBuckets),
        storeDir, nBuckets)
    }
    val batch = cdcDemoBatch(base, nBuckets).cache()
    graft.PhaseTimer.timed("q_ratings_cdc_store", "tick") {
      graft.streaming.EventStream.cdcMergeTick(spark, storeDir, batch,
        batchId = 0L, nBuckets = nBuckets)
    }
    base.unpersist(); batch.unpersist()
    BucketStore.readAll(spark, storeDir)
      .select(col("user_id"), col("item_id"), col("rating"), col("is_implicit"),
        date_format(col("ts"), "yyyy-MM-dd").as("ts_day"))
  }

  /** The deterministic CDC batch [[cdcSnapshotStore]] applies — data-
    * derived so the DuckDB oracle regenerates it from the same fact.
    * All rows carry a ts past the fact's date range, so the batch
    * always wins latest-ts resolution against base rows.
    */
  private[graft] def cdcDemoBatch(base: DataFrame, nBuckets: Int): DataFrame = {
    val bts = lit("2005-01-01").cast("date")
    val dels = base
      .filter(col("user_id") % nBuckets === 5 || col("user_id") % 97 === 0)
      .select(col("user_id"), col("item_id"),
        lit(null).cast("double").as("rating"), lit(false).as("is_implicit"),
        bts.as("ts"), lit("delete").as("op"))
    val reRates = base
      .filter(col("user_id") % 89 === 0 && col("user_id") % nBuckets =!= 5)
      .select(col("user_id"), col("item_id"),
        (lit(6.0) - col("rating")).as("rating"), col("is_implicit"),
        bts.as("ts"), lit("upsert").as("op"))
    val adds = base
      .filter(col("user_id") % 101 === 0 && col("user_id") % nBuckets =!= 5)
      .select(col("user_id"), (col("item_id") + 10000000L).as("item_id"),
        lit(4.6).as("rating"), lit(true).as("is_implicit"),
        bts.as("ts"), lit("upsert").as("op"))
    dels.unionByName(reRates).unionByName(adds)
  }

  /** set_movie_watched as a batch: watched events become implicit
    * ratings valued at the item's current average (min voters) else
    * the default — composed from the stats aggregate exactly like
    * [[Relational.implicitBackfill]].
    */
  def watchedBatch(spark: SparkSession, base: DataFrame, watched: DataFrame,
                   usersLowerLimit: Int = 5, defaultRating: Double = 3.5): DataFrame = {
    val stats = base.filter(!col("is_implicit"))
      .groupBy(col("item_id"))
      .agg(avg(col("rating")).as("item_avg"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > usersLowerLimit)
      .select(col("item_id"), col("item_avg"))
    watched
      .join(broadcast(stats), Seq("item_id"), "left")
      .select(
        col("user_id"), col("item_id"),
        normalizeRating(coalesce(col("item_avg"), lit(defaultRating))).as("rating"),
        lit(true).as("is_implicit"),
        col("ts"),
        lit("upsert").as("op"))
  }
}
