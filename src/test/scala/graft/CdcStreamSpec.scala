package graft

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class RatingUpdate(user_id: Long, item_id: Long, rating: Double,
                        is_implicit: Boolean, ts: java.sql.Timestamp, op: String)

class CdcStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streamed mutations merge into the snapshot across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_snap").toString
    val dir = root + "/ratings"
    graft.streaming.BucketStore.seed(
      Seq(
        (1L, 10L, 4.0, false, ts("2024-01-01 00:00:00")),
        (2L, 10L, 5.0, false, ts("2024-01-01 00:00:00")))
        .toDF("user_id", "item_id", "rating", "is_implicit", "ts"),
      pmod(col("user_id"), lit(64)).cast("int"), dir, n = 64)

    val input = MemoryStream[RatingUpdate]
    val q = EventStream.startCdcApply(input.toDF(), dir, root + "/ckpt")

    // batch 1: re-rate user 1 and add user 3 — touches buckets 1 and 3
    input.addData(
      RatingUpdate(1L, 10L, 2.2, false, ts("2024-01-02 00:00:00"), "upsert"),
      RatingUpdate(3L, 11L, 4.5, false, ts("2024-01-02 00:00:00"), "upsert"))
    q.processAllAvailable()
    // user 2's bucket was untouched by batch 1 — byte-identical files
    val afterB1 = TestFiles.bucketFileHashes(spark, dir)
    assert(afterB1.keys.exists(TestFiles.inBucket(_, 2)))
    // batch 2: delete user 2's only row — the tombstone EMPTIES bucket
    // 2, which must drop out of the published manifest
    input.addData(RatingUpdate(2L, 10L, 0.0, false, ts("2024-01-03 00:00:00"), "delete"))
    q.processAllAvailable()
    q.stop()

    val snap = graft.streaming.BucketStore.readAll(spark, dir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("item_id")) -> r.getAs[Double]("rating")).toMap
    assert(snap((1L, 10L)) === 2.0)   // 2.2 normalized to half-star
    assert(snap((3L, 11L)) === 4.5)
    assert(!snap.contains((2L, 10L))) // deleted in batch 2
    assert(snap.size === 2)
    // the emptied bucket is gone from the SNAPSHOT (its old generation
    // file may persist inside the retention window — readers of the
    // previous manifest still need it)
    assert(graft.streaming.BucketStore.readBuckets(spark, dir, Seq(2), 64).count() === 0L)
    // batch 2 touched ONLY bucket 2: buckets 1 and 3 byte-identical
    val afterB2 = TestFiles.bucketFileHashes(spark, dir)
    val untouched = afterB1.filter { case (p, _) => !TestFiles.inBucket(p, 2) }
    assert(untouched.nonEmpty)
    untouched.foreach { case (p, h) => assert(afterB2.get(p).contains(h)) }
  }

  test("a failed CDC tick leaves nothing cached; an empty micro-batch leaves the marker unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cdc_edges").toString
    val dir = root + "/ratings"
    graft.streaming.BucketStore.seed(
      Seq((1L, 10L, 4.0, false, ts("2024-01-01 00:00:00")))
        .toDF("user_id", "item_id", "rating", "is_implicit", "ts"),
      pmod(col("user_id"), lit(64)).cast("int"), dir, n = 64)
    def cached(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    // a maintainer given the wrong bucket count fails its first tick at
    // the pruned read, after the batch and its keys were cached
    val cached0 = cached()
    val bad = MemoryStream[RatingUpdate]
    val qBad = EventStream.startCdcApply(bad.toDF(), dir, root + "/ckpt_bad", nBuckets = 32)
    bad.addData(RatingUpdate(1L, 10L, 1.0, false, ts("2024-01-02 00:00:00"), "upsert"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.processAllAvailable()
    }
    assert(e.getCause.getMessage.contains("bucket-count mismatch"))
    assert(cached() === cached0, "the failed tick left cached blocks behind")
    assert(graft.streaming.BucketStore.appliedBatchId(dir) === -1L)

    val input = MemoryStream[RatingUpdate]
    val q = EventStream.startCdcApply(input.toDF(), dir, root + "/ckpt")
    input.addData(RatingUpdate(2L, 10L, 3.0, false, ts("2024-01-02 00:00:00"), "upsert"))
    q.processAllAvailable()
    assert(graft.streaming.BucketStore.appliedBatchId(dir) === 0L)
    val markerPath = java.nio.file.Paths.get(dir, "_graft_applied_batch")
    val marker0 = java.nio.file.Files.readAllBytes(markerPath).toSeq
    // batch 1 carries no rows: nothing to apply, and the marker — fence
    // token included — must not move
    input.addData()
    q.processAllAvailable()
    q.stop()
    assert(q.lastProgress.batchId === 1L && q.lastProgress.numInputRows === 0L)
    assert(java.nio.file.Files.readAllBytes(markerPath).toSeq === marker0)
    assert(graft.streaming.BucketStore.readAll(spark, dir).count() === 2L)
    assert(cached() === cached0)
  }

  test("retrain loop refreshes the per-user recs once enough mutations land") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("retrain").toString
    val dir = root + "/ratings"
    val recsDir = root + "/recs"
    // seed: 8 users × 6 items so tiny-rank ALS has signal — bucketed
    // snapshot, same layout the CDC apply maintains
    val seed = for (u <- 1L to 8L; i <- 1L to 6L if (u + i) % 3 != 0)
      yield (u, i, 0.5 + ((u * i) % 9) * 0.5, false, ts("2024-01-01 00:00:00"))
    graft.streaming.BucketStore.seed(
      seed.toDF("user_id", "item_id", "rating", "is_implicit", "ts"),
      pmod(col("user_id"), lit(64)).cast("int"), dir, n = 64)

    val input = MemoryStream[RatingUpdate]
    val q = graft.streaming.EventStream.startRetrainLoop(
      input.toDF(), dir, recsDir, checkpointDir = root + "/ckpt",
      retrainEvery = 2, topN = 3)
    // batch 1: one mutation — below the threshold, no model yet
    input.addData(RatingUpdate(1L, 6L, 5.0, false, ts("2024-01-02 00:00:00"), "upsert"))
    q.processAllAvailable()
    assert(graft.streaming.BucketStore.readAll(spark, recsDir).count() === 0L)
    val afterB1 = TestFiles.bucketFileHashes(spark, dir)
    // batch 2: second mutation crosses retrainEvery=2 → ALS refit + recs written
    input.addData(RatingUpdate(2L, 5L, 4.5, false, ts("2024-01-03 00:00:00"), "upsert"))
    q.processAllAvailable()
    q.stop()

    // the retrain tick's merge is the CDC bucketed merge, NOT a
    // full-snapshot rewrite: batch 2 touched only user 2's bucket —
    // every other bucket's files must come through byte-identical
    val afterB2 = TestFiles.bucketFileHashes(spark, dir)
    val untouched = afterB1.filter { case (p, _) => !TestFiles.inBucket(p, 2) }
    assert(untouched.nonEmpty)
    untouched.foreach { case (p, h) => assert(afterB2.get(p).contains(h)) }
    assert(afterB1.filter(t => TestFiles.inBucket(t._1, 2)) !==
      afterB2.filter(t => TestFiles.inBucket(t._1, 2)))

    val recs = graft.streaming.BucketStore.readAll(spark, recsDir)
    assert(recs.count() > 0)
    // the recs marker names the snapshot batch they were trained on
    assert(graft.streaming.BucketStore.appliedBatchId(recsDir) === 1L)
    assert(recs.columns.toSet === Set("user_id", "item_id", "score"))
    // every user in the snapshot got its top-N refresh
    assert(recs.select("user_id").distinct().count() === 8)
    // and the snapshot itself carries both mutations
    val snap = graft.streaming.BucketStore.readAll(spark, dir)
    assert(snap.filter(col("user_id") === 2L && col("item_id") === 5L).count() === 1)
    // recs are over unrated items only (the anti-testset): each user
    // rated 4 of the 6 items (both mutations re-rate seeded pairs), so
    // topN = 3 serves exactly that user's 2 unrated items
    val served = recs.select("user_id", "item_id").as[(Long, Long)].collect()
    val rated = snap.select("user_id", "item_id").as[(Long, Long)].collect().toSet
    assert(served.forall(p => !rated(p)), served.filter(rated).mkString(", "))
    assert(served.groupBy(_._1).values.map(_.length).toSet === Set(2))
  }

  test("streaming cooc maintenance equals batch recompute after every tick") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("cooc_mv").toString
    val factsDir = root + "/facts"
    val matrixDir = root + "/matrix"
    // seed: 3 users with overlapping profiles
    val seed = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L), (3L, 12L))
    graft.streaming.BucketStore.seed(seed.toDF("user_id", "item_id"),
      graft.streaming.BucketStore.longBucket(col("user_id"), 64), factsDir, n = 64)
    // r17: the matrix store persists the packed pair key (pk, n_users)
    graft.streaming.BucketStore.seed(
      graft.operators.ItemCF.coocCountsPkOn(seed.toDF("user_id", "item_id")),
      graft.operators.ItemCF.pairBucket(col("pk"), 64), matrixDir, n = 64)

    val input = MemoryStream[(Long, Long)]
    val q = EventStream.startCoocMaintain(
      input.toDF().toDF("user_id", "item_id"), factsDir, matrixDir,
      root + "/ckpt")

    def matrixNow = graft.operators.ItemCF.unpackCoocPk(
        graft.streaming.BucketStore.readAll(spark, matrixDir))
      .select("item_a", "item_b", "n_users")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def facts = graft.streaming.BucketStore.readAll(spark, factsDir)
    def batchNow = graft.operators.ItemCF.coocCountsOn(facts)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // tick 1: new pairs for user 1 (bump 10-11 profile cross) + a
    // cross-batch duplicate fact AND a within-batch double delivery
    // of (1,12) — both must be no-ops for facts and matrix alike
    input.addData((1L, 12L), (1L, 12L), (1L, 10L))
    q.processAllAvailable()
    assert(matrixNow === batchNow)
    assert(matrixNow.contains((10L, 11L, 2L))) // untouched pair carried over
    // tick 2 touches only bucket 10 (its one delta pair is (10, 11));
    // bucket 11's files must come through BYTE-IDENTICAL — the tick
    // rewrites touched bucket dirs only, never the whole store
    val before = TestFiles.bucketFileHashes(spark, matrixDir)
    input.addData((4L, 10L), (4L, 11L))
    q.processAllAvailable()
    // tick 3: ENTIRELY duplicate facts — zero delta pairs, zero
    // touched buckets; the apply must no-op cleanly (marker bumps,
    // store untouched)
    input.addData((4L, 10L))
    q.processAllAvailable()
    q.stop()
    assert(matrixNow === batchNow)
    assert(matrixNow.contains((10L, 11L, 3L))) // bumped by user 4
    val after = TestFiles.bucketFileHashes(spark, matrixDir)
    val untouched11 = before.filter(t => TestFiles.inBucket(t._1, 11))
    assert(untouched11.nonEmpty)
    untouched11.foreach { case (path, h) => assert(after.get(path).contains(h)) }
    // and bucket 10 (the touched one) did change
    assert(before.filter(t => TestFiles.inBucket(t._1, 10)) !==
      after.filter(t => TestFiles.inBucket(t._1, 10)))
    // facts snapshot deduplicated both repeats (seed 6 + 3 new)
    assert(facts.count() === 9)
    // the applied-batch marker swapped in with the matrix (replay
    // guard: a redelivered batch <= marker skips the matrix apply)
    val marker = java.nio.file.FileSystems.getDefault
      .getPath(matrixDir, "_graft_applied_batch")
    assert(java.nio.file.Files.exists(marker))
    assert(graft.streaming.BucketStore.appliedBatchId(matrixDir) === 2L)
    // the facts store moves last: its marker is the maintainer's commit
    assert(graft.streaming.BucketStore.appliedBatchId(factsDir) === 2L)
  }
}
