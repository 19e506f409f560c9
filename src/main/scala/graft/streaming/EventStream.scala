package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for streaming pipelines (µs timestamp — see
  * graft.Tables.events for the ns-parquet handling).
  */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double)

/** Per-user running rating state — the streaming twin of the
  * reference's live redis counters (`n_ratings_<user>` incr/decr in
  * /root/reference/web/app/controller.py:127-146) and of its
  * 15-minute APScheduler recompute loop: instead of periodically
  * re-reading PostgreSQL, state updates ride the event stream.
  */
case class UserRatingState(n_events: Long, sum_value: Double)
case class UserRatingUpdate(user_id: Long, n_events: Long, sum_value: Double)

object EventStream {

  /** Continuous version of [[graft.operators.Analytics.eventsWindow]]:
    * watermarked tumbling-window aggregate per event type. Late data
    * beyond the watermark is dropped instead of blocking state growth —
    * the property that keeps this runnable forever at 100 TB/day.
    */
  def windowedStats(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming gap-sessionization with the native session_window —
    * the continuous twin of [[graft.operators.Analytics.sessionize]].
    * State per (user, open session) merges as events arrive; the
    * watermark closes sessions and bounds state.
    */
  def sessionStats(events: DataFrame, gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Per-user running counters via mapGroupsWithState — emits the
    * updated (count, sum) for each user seen in the micro-batch.
    * State is per-key and bounded by the user population; a production
    * deployment adds a timeout to reap idle users.
    */
  def userRatingCounters(events: Dataset[Event]): Dataset[UserRatingUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRatingState, UserRatingUpdate](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserRatingState]) =>
          val prev = state.getOption.getOrElse(UserRatingState(0L, 0.0))
          val (n, s) = batch.foldLeft((prev.n_events, prev.sum_value)) {
            case ((cnt, sum), e) => (cnt + 1, sum + e.value)
          }
          state.update(UserRatingState(n, s))
          UserRatingUpdate(userId, n, math.rint(s * 100) / 100)
      }
  }

  /** Continuous CDC apply: a stream of rating mutations merged into a
    * BUCKET-PARTITIONED ratings snapshot ([[BucketStore]], bucketed by
    * `pmod(user_id, nBuckets)`) per micro-batch — the streaming
    * version of the reference's REST write path, with the same
    * O(delta)-I/O contract as the materialized-view maintainers. Each
    * micro-batch past the replay guard runs one [[cdcMergeTick]]: one
    * keys pass, then one generation write that resolves the batch
    * against only its touched buckets' rows and publishes only those
    * buckets — tombstones included (a delete that empties a bucket
    * drops it from the manifest). An empty micro-batch is detected by
    * [[Maintainer.start]]'s one count and leaves the store and its
    * marker untouched. The skeleton caches the batch for that count
    * and the tick's two passes, and releases it on every exit, a
    * failed tick's included. On a lake this whole body is one
    * `MERGE INTO` against Delta/Iceberg; the bucket layout is the
    * plain-parquet equivalent.
    *
    * @param updates       streaming DataFrame with applyBatch's update schema
    * @param snapshot      bucketed ratings snapshot — seed with
    *                      [[BucketStore.seed]] on `pmod(user_id, nBuckets)`
    * @param checkpointDir durable streaming checkpoint (REQUIRED: the
    *                      applied-batch replay guard needs monotonic
    *                      batch ids across restarts)
    * @param nBuckets      the store's bucket count, must match the
    *                      seed; ≤ 0 (the r15 default) recovers it
    *                      from the store's meta
    */
  def startCdcApply(updates: DataFrame, snapshot: String, checkpointDir: String,
                    nBuckets: Int = -1): org.apache.spark.sql.streaming.StreamingQuery =
    Maintainer.start(updates, checkpointDir, Seq(snapshot), Some(snapshot))(identity) {
      (b, batchId, _) =>
        // nBuckets ≤ 0 (r15 default): the store meta is the layout
        cdcMergeTick(b.sparkSession, snapshot, b, batchId,
          if (nBuckets > 0) nBuckets else BucketStore.seededBuckets(snapshot))
        ()
    }

  /** One CDC merge tick against a bucketed ratings snapshot — the
    * shared body of [[startCdcApply]] and [[startRetrainLoop]]. It
    * resolves the batch once:
    *
    *  1. one pass over the batch's (user, item) keys yields the
    *     touched buckets and the key-row count (an empty batch stops
    *     here: no apply, marker unchanged);
    *  2. the resolution — the touched buckets' current rows,
    *     semi-joined to the broadcast keys, latest-wins against the
    *     batch ([[graft.operators.Mutations.applyBatchDelta]], work ∝
    *     batch) — is handed to [[BucketStore.applyTick]] lazily,
    *     together with that key summary ([[BucketStore.TickKeys]]), so
    *     it runs exactly once, inside the generation write.
    *
    * The summary needs no pass of its own: every distinct batch key
    * resolves to exactly one row, a survivor or a tombstone, so the
    * key set of the apply's `changes ∪ removed` IS the batch's key
    * set — the same touched buckets, and the batch's key projection
    * is the carry-over's drop set. That projection is not de-duplicated:
    * the semi and anti joins that consume it ignore repeats, and its
    * row count only gates the broadcast. `b` must be cached by the
    * caller — the keys pass and the write both read it. The tick
    * caches nothing itself, so a fenced-off or failed tick leaves no
    * cached frame behind. Package-visible so
    * [[graft.operators.Mutations.cdcSnapshotStore]] can hash-gate
    * this exact body against a SQL oracle.
    *
    * @param beforePublish fault-injection seam, passed to
    *                      [[BucketStore.applyTick]]
    * @return the apply's stats; None for an empty batch
    */
  private[graft] def cdcMergeTick(spark: SparkSession, snapshot: String, b: DataFrame,
                           batchId: Long, nBuckets: Int,
                           beforePublish: () => Unit = () => ()): Option[BucketStore.TickStats] = {
    val keys = b.select(col("user_id"), col("item_id"))
    val (touched, keyRows) = BucketStore.touchedBucketStats(keys.select(
      BucketStore.longBucket(col("user_id"), nBuckets).as(BucketStore.BucketCol)))
    if (keyRows == 0) None
    else {
      val keysHinted = if (keyRows <= graft.operators.Hints.DeltaBroadcastMaxRows)
        broadcast(keys) else keys
      val baseTouched = BucketStore.readBuckets(spark, snapshot, touched, nBuckets)
        .join(keysHinted, Seq("user_id", "item_id"), "left_semi")
      val (changes, _) = graft.operators.Mutations.applyBatchDelta(baseTouched, b)
      Some(BucketStore.applyTick(spark, snapshot,
        changes.withColumn(BucketStore.BucketCol,
          BucketStore.longBucket(col("user_id"), nBuckets)),
        Seq("user_id", "item_id"), batchId, n = nBuckets,
        beforePublish = beforePublish,
        keys = Some(BucketStore.TickKeys(touched, keyRows, keys))))
    }
  }

  /** Streaming materialized view of the co-occurrence matrix: each
    * micro-batch of new interactions runs one
    * [[graft.operators.ItemCF.coocMergeTick]] — [[graft.operators
    * .ItemCF.coocDelta]]'s two phases (changed matrix rows only — work
    * ∝ batch, zero shuffles of matrix or facts) MERGED into a
    * bucket-partitioned matrix store ([[BucketStore]]). This is the
    * reference's 15-minute full recompute (web/service.py
    * APScheduler) turned into a
    * continuously maintained view whose per-tick cost no longer grows
    * with history.
    *
    * The tick is O(delta) end-to-end, reads included: the changed-key
    * set ≡ the delta-pair key set
    * ([[graft.operators.ItemCF.coocChangesFromPairsPk]]), so the
    * touched buckets are known BEFORE any matrix read — the merge
    * reads only those bucket partitions and the apply publishes only
    * those buckets into a new generation; untouched buckets stay
    * byte-identical (CdcStreamSpec pins it). The facts are a
    * user-bucketed store too: the tick reads only the batch users'
    * facts buckets, which is all both delta-pair semi-joins need, and
    * appends the batch's genuinely-new facts as one
    * [[BucketStore.applyAppendTick]] generation that the read never
    * scans.
    *
    * The facts store is the commit store: it moves last, so a batch
    * at or below its marker is skipped by [[Maintainer.start]] before
    * any Spark job. The matrix keeps its own guard inside the tick:
    * after a crash between the matrix publish and the facts append the
    * matrix is one batch ahead, and the replay skips the matrix and
    * appends the facts.
    *
    * @param interactions  streaming (user_id, item_id) new-interaction rows
    * @param factsDir      store of the interactions seen so far — seed
    *                      with [[BucketStore.seed]] on
    *                      `longBucket(user_id, n)`; the tick reads `n`
    *                      from its meta
    * @param matrixDir     bucketed store of UNFILTERED pair counts
    *                      (minUsers = 1, coocIncrement's contract) in
    *                      the PACKED-key schema (pk, n_users) — seed
    *                      with [[BucketStore.seed]] over
    *                      [[graft.operators.ItemCF.coocCountsPkOn]]
    *                      bucketed by `ItemCF.pairBucket(pk, nBuckets)`
    *                      (≡ pmod(item_a, nBuckets) — r17)
    * @param checkpointDir durable streaming checkpoint. REQUIRED for
    *                      the replay guard to be sound: without one,
    *                      batch ids restart at 0 on every launch while
    *                      the applied-batch marker persists, and the
    *                      guard would skip real matrix updates forever
    * @param nBuckets      the matrix store's bucket count — part of its
    *                      on-disk contract, must match the seed; ≤ 0
    *                      (the r15 default) recovers it from the
    *                      store's meta
    */
  def startCoocMaintain(interactions: DataFrame, factsDir: String,
                        matrixDir: String, checkpointDir: String,
                        nBuckets: Int = -1): org.apache.spark.sql.streaming.StreamingQuery =
    // distinct: the matrix path dedups internally (coocDelta), so
    // the facts append must too — a doubly-delivered row inside
    // one trigger would otherwise corrupt the facts store
    Maintainer.start(interactions, checkpointDir, Seq(matrixDir, factsDir), Some(factsDir)) {
      _.select(col("user_id"), col("item_id")).distinct()
    } { (b, batchId, _) =>
      val spark = b.sparkSession
      val nf = BucketStore.seededBuckets(factsDir)
      val bucket = BucketStore.longBucket(col("user_id"), nf)
      val old = BucketStore.readBuckets(spark, factsDir,
        BucketStore.touchedBuckets(b.select(bucket)), nf)
      if (BucketStore.appliedBatchId(matrixDir) < batchId)
        graft.operators.ItemCF.coocMergeTick(spark, matrixDir, old, b,
          batchId, nBuckets)
      // facts gain only the batch's genuinely-new (user, item) rows
      // (the tick ignored the rest)
      BucketStore.applyAppendTick(spark, factsDir,
        b.join(old, Seq("user_id", "item_id"), "left_anti")
          .withColumn(BucketStore.BucketCol, bucket), batchId, nf)
      ()
    }

  /** Continuous retrain loop — the reference's periodic recompute
    * (web/service.py APScheduler: recompute_recommendations every
    * 15/30 min) turned data-driven: mutations stream into the
    * BUCKET-PARTITIONED ratings snapshot through the literal
    * [[startCdcApply]] merge body ([[cdcMergeTick]] — touched-bucket
    * read, work ∝ batch, only touched bucket dirs rewritten), and
    * once `retrainEvery` mutations have accumulated since the last
    * train, ALS refits on the merged snapshot
    * ([[BucketStore.readAll]] — the refit is legitimately global; only
    * the MERGE is O(delta)) and publishes the per-user top-N recs over
    * each user's unrated items (the reference's redis `u<id>` export
    * refresh).
    *
    * The recs are a user-bucketed [[BucketStore]] at the snapshot's
    * bucket count, seeded empty when `recsDir` holds no store. Each
    * retrain publishes them with one [[BucketStore.applyReplaceTick]]
    * under the batch that triggered it, so the recs marker names the
    * snapshot batch the recs were trained on; a reader keeps the recs
    * it resolved, and a crash before the recs marker moves rolls the
    * unpublished recs back on restart.
    *
    * The snapshot must be seeded with [[BucketStore.seed]] on
    * `pmod(user_id, nBuckets)`, same as [[startCdcApply]].
    *
    * '''Restart contract.''' The pending counter lives in the running
    * query, not on disk: it takes each applied batch's row count from
    * [[Maintainer.start]]'s one count, and a failed fit kills the
    * query. The snapshot is the commit store, so after a restart the
    * batch whose CDC tick already landed is skipped by its replay
    * guard without a retrain, and the counter starts again at 0. Until
    * `retrainEvery` more rows arrive, readers get the recs the recs
    * marker names: those trained on that earlier snapshot batch.
    *
    * @param checkpointDir durable streaming checkpoint (REQUIRED, same
    *   contract as [[startCdcApply]]: the replay guard compares the
    *   store's applied-batch marker against the stream's batch ids, so
    *   ids must stay monotonic across restarts — without a checkpoint
    *   they restart at 0 and every batch up to the marker would be
    *   silently skipped, dropping its mutations)
    */
  def startRetrainLoop(updates: DataFrame, snapshot: String, recsDir: String,
                       checkpointDir: String,
                       retrainEvery: Long = 100, topN: Int = 10,
                       rank: Int = 4, maxIter: Int = 5,
                       nBuckets: Int = -1): org.apache.spark.sql.streaming.StreamingQuery = {
    val pending = new java.util.concurrent.atomic.AtomicLong(0L)
    val nRecs = BucketStore.seededBuckets(snapshot)
    val recsBucket = BucketStore.longBucket(col("user_id"), nRecs)
    if (BucketStore.metaBuckets(recsDir).isEmpty) {
      val spark = updates.sparkSession
      BucketStore.seed(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "user_id BIGINT, item_id BIGINT, score DOUBLE")),
        recsBucket, recsDir, nRecs)
    }
    Maintainer.start(updates, checkpointDir, Seq(snapshot, recsDir), Some(snapshot))(identity) {
      (b, batchId, rows) =>
        val spark = b.sparkSession
        // nBuckets ≤ 0 (r15 default): the store meta is the layout
        cdcMergeTick(spark, snapshot, b, batchId,
          if (nBuckets > 0) nBuckets else BucketStore.seededBuckets(snapshot))
        if (pending.addAndGet(rows) >= retrainEvery) {
          val train = BucketStore.readAll(spark, snapshot).select(
            col("user_id").cast("int").as("user"),
            col("item_id").cast("int").as("item"),
            col("rating").cast("float").as("rating")).cache()
          // the fit and the seen side read the snapshot once, cached
          try {
            val model = graft.recommender.Als.fit(train, rank, maxIter)
            // recs over the items each user has NOT rated — the
            // reference's anti-testset, the snapshot's pairs as the
            // seen set — replace the whole recs store; the counter
            // resets only once they are published
            BucketStore.applyReplaceTick(recsDir,
              graft.recommender.Als.topNUnseen(model, train, topN)
                .select(
                  col("user").cast("long").as("user_id"),
                  col("item").cast("long").as("item_id"),
                  round(col("score").cast("double"), 4).as("score"))
                .withColumn(BucketStore.BucketCol, recsBucket),
              batchId, nRecs)
          } finally { train.unpersist(); () }
          pending.set(0L)
        }
    }
  }

  /** Start [[windowedStats]] against an in-memory sink (used by tests
    * and local smoke runs; swap the sink for kafka/delta in
    * production — the plan is identical).
    */
  def startMemorySink(agg: DataFrame, queryName: String): org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName(queryName)
      .start()
}
