package graft

import graft.operators.Mutations
import graft.streaming.{BucketStore, EventStream}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Crash-window behavior of the generation-manifest store protocol:
  * the marker write is the single publish point, so anything a
  * crashed tick left behind (generation dir, manifest) is invisible
  * to readers and rolled BACK by recovery; the at-least-once replay
  * then recomputes the batch idempotently. Readers resolve
  * marker → manifest → immutable generation files, so a snapshot
  * taken before a tick still reads the pre-tick rows after the tick
  * publishes (retention window: one tick).
  */
class BucketStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def storeRows(dir: String): Set[(Long, Long)] =
    BucketStore.readAll(spark, dir).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Counts the jobs each `jobsOf(group) { … }` section schedules.
    * Per-JOB-GROUP counts (r17 ADVICE): a bare global counter let late
    * JobStart events from one section bleed into the next on a
    * contended host; tagging each section with its own job group makes
    * the attribution race-free — the settle loop only absorbs the
    * bus's delivery lag for the section's OWN jobs. AQE surfaces each
    * query stage as its own job, which would make a budget
    * Spark-version-shaped; the pins are about GRAFT's job structure,
    * so the body runs with AQE off (session conf restored after)
    * unless `aqe` asks for it on, as the bench session runs: with AQE
    * off, per-copy broadcasts of one plan reuse one exchange, so a
    * read that fans out per live generation only shows with it on.
    */
  private def withJobCounts(aqe: Boolean = false)(body: JobsOf => Unit): Unit = {
    val jobsByGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        jobsByGroup.merge(g, 1, (a, b) => a + b); ()
      }
    }
    // the listener bus is async — read the group's counter once it
    // stops moving
    def settled(group: String): Int = {
      def cnt(): Int = Option(jobsByGroup.get(group)).fold(0)(_.intValue())
      var prev = -1; var cur = cnt(); var spins = 0
      while (cur != prev && spins < 100) {
        prev = cur; Thread.sleep(50); cur = cnt(); spins += 1
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
    try body(new JobsOf {
      def apply(group: String)(f: => Unit): Int = {
        spark.sparkContext.setJobGroup(group, group)
        try f finally spark.sparkContext.clearJobGroup()
        settled(group)
      }
    })
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe0)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private trait JobsOf { def apply(group: String)(f: => Unit): Int }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** A bucketed ratings store in the CDC tick's schema. */
  private def seedRatings(dir: String, n: Int,
                          rows: Seq[(Long, Long, Double)]): Unit = {
    import spark.implicits._
    BucketStore.seed(
      rows.map { case (u, i, r) => (u, i, r, false, ts("2024-01-01 00:00:00")) }
        .toDF("user_id", "item_id", "rating", "is_implicit", "ts"),
      BucketStore.longBucket(col("user_id"), n), dir, n)
  }

  private def ratingRows(dir: String): Set[(Long, Long, Double, Boolean, java.sql.Timestamp)] =
    BucketStore.readAll(spark, dir)
      .select("user_id", "item_id", "rating", "is_implicit", "ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3),
        r.getTimestamp(4))).toSet

  /** Bucket ids the store's current manifest lists. */
  private def manifestBuckets(dir: String): Set[Int] = {
    val id = BucketStore.appliedBatchId(dir)
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, s"_graft_manifest_$id")), "UTF-8")
      .split("\n").filter(_.nonEmpty).map(_.split("\t")(0).toInt).toSet
  }

  /** Ids of the session's materialised persisted RDDs. */
  private def persistedRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Executed plan of the write of generation `gen` that `tick` runs,
    * caught off the listener manager (the bus is async, so this polls
    * until the write shows).
    */
  private def genWritePlan(gen: String)(tick: => Unit): String = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      tick
      def write(): Option[String] = plans.synchronized {
        plans.find(p => p.contains(gen) && p.contains("InsertIntoHadoopFsRelation"))
      }
      var spins = 0
      while (write().isEmpty && spins < 100) { Thread.sleep(50); spins += 1 }
      write().getOrElse(fail(s"$gen write plan never reached the listener"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("recover rolls an unpublished tick back; replayed batch recomputes idempotently") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("bucket_store").toString
    val dir = root + "/store"
    // seed: keys 1 and 2 land in buckets 1 and 2 (pmod(k, 64))
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    assert(BucketStore.appliedBatchId(dir) === -1L)
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L)))

    // a tick that died AFTER writing its generation and manifest but
    // BEFORE the marker: readers never saw it, recovery deletes it
    Seq((1L, 99L)).toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))
      .write.partitionBy("bucket").parquet(dir + "/gen-7")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_manifest_7"),
      "1\tgen-7\n2\tgen-base".getBytes)
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L))) // unpublished = invisible
    BucketStore.recover(dir)
    assert(BucketStore.appliedBatchId(dir) === -1L)
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-7")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_graft_manifest_7")))

    // the replayed batch then recomputes the same tick for real
    BucketStore.applyTick(spark, dir,
      Seq((1L, 11L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 7L, n = 64)
    assert(storeRows(dir) === Set((1L, 11L), (2L, 20L)))
    assert(BucketStore.appliedBatchId(dir) === 7L)

    // replay guard: batchId <= marker no-ops
    BucketStore.applyTick(spark, dir,
      Seq((2L, 99L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 7L, n = 64)
    assert(storeRows(dir) === Set((1L, 11L), (2L, 20L)))

    // and a genuinely new tick merges: changed key replaces, new key
    // lands, untouched bucket carried over from its old generation
    BucketStore.applyTick(spark, dir,
      Seq((2L, 21L), (66L, 60L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 8L, n = 64)
    assert(storeRows(dir) === Set((1L, 11L), (2L, 21L), (66L, 60L)))
    assert(BucketStore.appliedBatchId(dir) === 8L)
  }

  test("a reader's snapshot survives a concurrent tick; retention bounds the window") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_mvcc").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    // resolve a snapshot BEFORE the tick (manifest + file listing are
    // resolved eagerly at construction)
    val snapshot = BucketStore.readAll(spark, dir).select("k", "v")
    BucketStore.applyTick(spark, dir,
      Seq((1L, 11L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 0L, n = 64)
    // live readers see the new value; the pre-tick snapshot still
    // reads the OLD value — its generation files are retained
    assert(storeRows(dir) === Set((1L, 11L), (2L, 20L)))
    assert(snapshot.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L)))
    // two more ticks on the same bucket push gen-0 out of the
    // retention window (current + previous manifest) — gc reclaims it
    BucketStore.applyTick(spark, dir,
      Seq((1L, 12L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 1L, n = 64)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-0")),
      "generation referenced by the previous manifest must be retained")
    BucketStore.applyTick(spark, dir,
      Seq((1L, 13L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 2L, n = 64)
    assert(storeRows(dir) === Set((1L, 13L), (2L, 20L)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-0")),
      "generation outside the retention window was not reclaimed")
    // explicit time travel inside the retention window: AS OF the
    // previous tick; outside it fails loudly, never an empty store
    assert(BucketStore.readAt(spark, dir, 1L).select("k", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 12L), (2L, 20L)))
    val e = intercept[IllegalArgumentException] { BucketStore.readAt(spark, dir, 0L) }
    assert(e.getMessage.contains("no retained manifest"))
  }

  test("tombstones: an emptied bucket drops out of the manifest at publish") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_tomb").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    // delete key 2 — bucket 2's post-merge state is empty
    BucketStore.applyTick(spark, dir,
      spark.emptyDataset[(Long, Long)].toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 0L, n = 64,
      removed = Some(Seq((2L, 0L)).toDF("k", "v")
        .select(col("k"), BucketStore.longBucket(col("k"), 64).as("bucket"))))
    assert(storeRows(dir) === Set((1L, 10L)))
    assert(BucketStore.appliedBatchId(dir) === 0L)
    // readBuckets of the emptied bucket: schema-correct empty
    assert(BucketStore.readBuckets(spark, dir, Seq(2), n = 64).count() === 0L)
  }

  test("a fully-tombstoned store survives gc of its last data file") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_empty").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    // tick 0 tombstones EVERY row — the published manifest is empty
    BucketStore.applyTick(spark, dir,
      spark.emptyDataset[(Long, Long)].toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 0L, n = 64,
      removed = Some(Seq((1L, 0L), (2L, 0L)).toDF("k", "v")
        .select(col("k"), BucketStore.longBucket(col("k"), 64).as("bucket"))))
    assert(storeRows(dir) === Set.empty)
    // tick 1 pushes the seed manifest out of the retention window and
    // gc reclaims gen-base — the store's LAST remaining data file
    BucketStore.applyTick(spark, dir,
      spark.emptyDataset[(Long, Long)].toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 1L, n = 64)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-base")),
      "unreferenced seed generation should be reclaimed like any other")
    // with zero data files left, reads still serve the seeded schema…
    val empty = BucketStore.readAll(spark, dir)
    assert(empty.columns.toSet === Set("k", "v"))
    assert(empty.count() === 0L)
    // …and the store still ticks: a later insert revives it
    BucketStore.applyTick(spark, dir,
      Seq((3L, 30L)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
      Seq("k"), batchId = 2L, n = 64)
    assert(storeRows(dir) === Set((3L, 30L)))
  }

  test("a corrupt marker fails loudly; a missing marker means pre-first-tick") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_marker").toString + "/store"
    BucketStore.seed(Seq((1L, 10L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    assert(BucketStore.appliedBatchId(dir) === -1L) // missing marker = -1
    // an EMPTY marker (the in-place-overwrite glimpse) must never be
    // silently read as -1 — that would void the replay guard
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_graft_applied_batch"), Array.empty[Byte])
    val e = intercept[IllegalArgumentException] { BucketStore.appliedBatchId(dir) }
    assert(e.getMessage.contains("unreadable"))
  }

  test("a tick with a mismatched bucket count fails loudly instead of corrupting the store") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_meta").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (65L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    // n=32 would put key 65 in bucket 1 instead of bucket 1=pmod(65,64):
    // the pruned read would miss its real bucket — must fail up front
    val e = intercept[IllegalArgumentException] {
      BucketStore.applyTick(spark, dir,
        Seq((65L, 21L)).toDF("k", "v")
          .withColumn("bucket", BucketStore.longBucket(col("k"), 32)),
        Seq("k"), batchId = 1L, n = 32)
    }
    assert(e.getMessage.contains("bucket-count mismatch"))
    val e2 = intercept[IllegalArgumentException] {
      BucketStore.readBuckets(spark, dir, Seq(1), n = 32)
    }
    assert(e2.getMessage.contains("bucket-count mismatch"))
    // store unchanged by the refused tick
    assert(storeRows(dir) === Set((1L, 10L), (65L, 20L)))
    // the matching count still reads/applies fine
    assert(BucketStore.readBuckets(spark, dir, Seq(1), n = 64).count() === 2L)
  }

  test("generation sprawl auto-compacts: live state folds into one generation") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_compact").toString + "/store"
    def tick(batchId: Long, k: Long, v: Long): BucketStore.TickStats =
      BucketStore.applyTick(spark, dir,
        Seq((k, v)).toDF("k", "v")
          .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
        Seq("k"), batchId = batchId, n = 64, maxLiveGenerations = 3)
    def liveGens(): Set[String] =
      BucketStore.readAll(spark, dir).inputFiles
        .map(_.split("/").find(_.startsWith("gen-")).get).toSet
    BucketStore.seed(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    val s0 = tick(0L, 1L, 11L)                // live: gen-base + gen-0
    assert(s0 === BucketStore.TickStats(0L, applied = true, touchedBuckets = 1,
      compacted = false, liveGenerations = 2))
    tick(1L, 2L, 21L)                         // live: base + 0 + 1 = 3 gens
    assert(liveGens() === Set("gen-base", "gen-0", "gen-1"))
    // next tick sees 3 live generations >= maxLive → folds EVERYTHING
    // (its own change included) into its generation
    val s2 = tick(2L, 3L, 31L)
    assert(s2.compacted && s2.touchedBuckets === 3 && s2.liveGenerations === 1)
    assert(liveGens() === Set("gen-2"))
    assert(storeRows(dir) === Set((1L, 11L), (2L, 21L), (3L, 31L)))
    assert(BucketStore.appliedBatchId(dir) === 2L) // publish protocol unchanged
    // the compaction is invisible to the value story: a further normal
    // tick merges against the folded store, and retention gc reclaims
    // the pre-compaction generations
    tick(3L, 1L, 12L)
    assert(storeRows(dir) === Set((1L, 12L), (2L, 21L), (3L, 31L)))
    assert(liveGens() === Set("gen-2", "gen-3"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-base")),
      "pre-compaction generations must age out through the normal retention gc")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-0")))
  }

  test("soak: 20 ticks of upserts/deletes track a reference map; live generations stay bounded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_soak").toString + "/store"
    val maxLive = 3
    // deterministic pseudo-random stream of mutations over a 40-key space
    def keyAt(i: Int): Long = ((i * 7919L) % 40) + 1L
    val ref = scala.collection.mutable.Map[Long, Long]()
    Seq((1L, 100L), (2L, 200L)).foreach { case (k, v) => ref(k) = v }
    BucketStore.seed(ref.toSeq.toDF("k", "v"),
      BucketStore.longBucket(col("k"), 16), dir, n = 16)
    (0 until 20).foreach { i =>
      val k1 = keyAt(2 * i); val k2 = keyAt(2 * i + 1)
      // a key may not be both changed and removed in one tick (the
      // post-merge state cannot be both present and gone)
      val deleting = i % 4 == 3 && ref.contains(k2) && k2 != k1
      val changes = Seq((k1, i.toLong * 10)).toDF("k", "v")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 16))
      val removed = if (deleting)
        Some(Seq((k2, 0L)).toDF("k", "v")
          .select(col("k"), BucketStore.longBucket(col("k"), 16).as("bucket")))
      else None
      val st = BucketStore.applyTick(spark, dir, changes, Seq("k"),
        batchId = i.toLong, n = 16, removed = removed,
        maxLiveGenerations = maxLive)
      ref(k1) = i.toLong * 10
      if (deleting) ref.remove(k2)
      assert(st.applied && st.liveGenerations <= maxLive,
        s"tick $i: $st exceeded the live-generation bound")
      assert(storeRows(dir) === ref.toSet, s"tick $i diverged from the reference")
    }
    assert(BucketStore.appliedBatchId(dir) === 19L)
  }

  test("append ticks stack generations O(delta): no carry-over write, merge collapses, fold compacts") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_append").toString + "/store"
    def appended(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))
    def gensOf(bucket: Int): Set[String] =
      BucketStore.readBuckets(spark, dir, Seq(bucket), n = 64).inputFiles
        .map(_.split("/").find(_.startsWith("gen-")).get).toSet
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)

    // append tick 0: NEW keys 65 (bucket 1 — shared with key 1) and 3
    val s0 = BucketStore.applyAppendTick(spark, dir,
      appended((65L, 650L), (3L, 30L)), batchId = 0L, n = 64)
    assert(s0 === BucketStore.TickStats(0L, applied = true, touchedBuckets = 2,
      compacted = false, liveGenerations = 2))
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L), (65L, 650L), (3L, 30L)))
    // THE O(delta) pin: the tick's generation holds ONLY the delta's
    // rows — bucket 1's pre-existing row was NOT rewritten
    assert(spark.read.parquet(s"$dir/gen-0").count() === 2L)
    // bucket 1 now spans TWO stacked generations; readers union them
    assert(gensOf(1) === Set("gen-base", "gen-0"))

    // append tick 1 stacks a third generation onto bucket 1
    BucketStore.applyAppendTick(spark, dir, appended((129L, 1290L)),
      batchId = 1L, n = 64)
    assert(gensOf(1) === Set("gen-base", "gen-0", "gen-1"))
    assert(storeRows(dir).size === 5)

    // a MERGE tick touching bucket 1 reads all three generations and
    // collapses the bucket to its own single generation; untouched
    // buckets keep their stacks
    BucketStore.applyTick(spark, dir, appended((1L, 11L)), Seq("k"),
      batchId = 2L, n = 64)
    assert(gensOf(1) === Set("gen-2"))
    assert(storeRows(dir) ===
      Set((1L, 11L), (2L, 20L), (65L, 650L), (3L, 30L), (129L, 1290L)))

    // the live-generation bound still folds: maxLive=3 with gens
    // {base, 2} + this tick's would-be stack → next append compacts
    // everything (its own rows included) into ONE generation
    BucketStore.applyAppendTick(spark, dir, appended((4L, 40L)),
      batchId = 3L, n = 64)
    val s4 = BucketStore.applyAppendTick(spark, dir, appended((5L, 50L)),
      batchId = 4L, n = 64, maxLiveGenerations = 3)
    assert(s4.compacted && s4.liveGenerations === 1)
    assert(storeRows(dir) === Set((1L, 11L), (2L, 20L), (65L, 650L),
      (3L, 30L), (129L, 1290L), (4L, 40L), (5L, 50L)))
    assert(BucketStore.readAll(spark, dir).inputFiles
      .forall(_.contains("gen-4")), "fold must collapse to the tick's generation")
  }

  test("merge-on-read appends: partial rows aggregate on read; onCompact folds them at compaction") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_mor").toString + "/store"
    def partial(rows: (String, Long)*) = rows.toDF("k", "n")
      .withColumn("bucket", BucketStore.md5Bucket(md5(col("k")), 64))
    def summed: Map[String, Long] = BucketStore.readAll(spark, dir)
      .groupBy(col("k")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val reduce: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.groupBy(col("k"), col("bucket")).agg(sum(col("n")).as("n"))
    BucketStore.seed(partial(("hot", 1L), ("cold", 1L)).select("k", "n"),
      BucketStore.md5Bucket(md5(col("k")), 64), dir, n = 64,
      kind = BucketStore.KindMd5)

    // three append ticks each add a PARTIAL count for the hot key —
    // zero carry-over writes (each generation holds exactly 1 row)
    (0L to 2L).foreach { b =>
      BucketStore.applyAppendTick(spark, dir, partial(("hot", 1L)),
        batchId = b, n = 64, onCompact = Some(reduce))
      assert(spark.read.parquet(s"$dir/gen-$b").count() === 1L)
    }
    // merge-on-read: the aggregated view is exact at every point
    assert(summed === Map("hot" -> 4L, "cold" -> 1L))

    // the compaction fold applies the SAME reduction: after it fires,
    // the hot key's partials collapse to ONE physical row
    val st = BucketStore.applyAppendTick(spark, dir, partial(("hot", 1L)),
      batchId = 3L, n = 64, maxLiveGenerations = 3, onCompact = Some(reduce))
    assert(st.compacted && st.liveGenerations === 1)
    assert(summed === Map("hot" -> 5L, "cold" -> 1L))
    assert(spark.read.parquet(s"$dir/gen-3")
      .filter(col("k") === "hot").count() === 1L,
      "compaction must reduce partial rows, not just concatenate them")
  }

  test("append-tick crash window: unpublished generation rolls back; replay is idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_append_crash").toString + "/store"
    def appended(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))
    BucketStore.seed(Seq((1L, 10L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    // crash AFTER the generation write, BEFORE manifest + marker
    val boom = new RuntimeException("crash before publish")
    val e = intercept[RuntimeException] {
      BucketStore.applyAppendTick(spark, dir, appended((2L, 20L)),
        batchId = 0L, n = 64, beforePublish = () => throw boom)
    }
    assert(e eq boom)
    // unpublished = invisible; recover sweeps the orphans
    assert(storeRows(dir) === Set((1L, 10L)))
    assert(BucketStore.appliedBatchId(dir) === -1L)
    BucketStore.recover(dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-0")))
    // the at-least-once replay then lands the same batch for real
    val st = BucketStore.applyAppendTick(spark, dir, appended((2L, 20L)),
      batchId = 0L, n = 64)
    assert(st.applied)
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L)))
    // and a replayed (already-applied) batch no-ops
    val replay = BucketStore.applyAppendTick(spark, dir, appended((3L, 30L)),
      batchId = 0L, n = 64)
    assert(!replay.applied)
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L)))
  }

  /** A store of (k, v) rows seeded with keys 1 and 2 (buckets 1 and 2),
    * and a frame of (k, v) rows with their bucket column.
    */
  private def replaceStore(name: String): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(name).toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    dir
  }

  private def kv(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v").withColumn("bucket", BucketStore.longBucket(col("k"), 64))
  }

  test("a replayed merge tick runs no job and leaves the caller's cached delta cached") {
    val dir = replaceStore("bucket_store_merge_replay")
    BucketStore.applyTick(spark, dir, kv((1L, 11L)), Seq("k"), batchId = 0L, n = 64)
    val replay = kv((1L, 12L)).cache()
    try {
      replay.count()
      withJobCounts() { jobsOf =>
        var st: BucketStore.TickStats = null
        val jobs = jobsOf("merge_replay") {
          st = BucketStore.applyTick(spark, dir, replay, Seq("k"), batchId = 0L, n = 64,
            removed = Some(kv((2L, 20L))))
        }
        assert(!st.applied)
        assert(jobs === 0)
      }
      // the tick returned at the replay check, before it cached (and so
      // before it released) the delta
      assert(replay.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(storeRows(dir) === Set((1L, 11L), (2L, 20L)))
    } finally replay.unpersist()
  }

  test("replace tick: a frame resolved before a replace still reads the old rows") {
    val dir = replaceStore("bucket_store_replace_mvcc")
    val snapshot = BucketStore.readAll(spark, dir).select("k", "v")
    val st = BucketStore.applyReplaceTick(dir, kv((1L, 11L), (3L, 30L)), batchId = 0L, n = 64)
    assert(st === BucketStore.TickStats(0L, applied = true, touchedBuckets = 2,
      compacted = false, liveGenerations = 1))
    // the replace is the whole new content: key 2 is gone
    assert(storeRows(dir) === Set((1L, 11L), (3L, 30L)))
    assert(snapshot.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L)))
  }

  test("replace tick: a crash injected before publish leaves the old snapshot; recover deletes the orphan") {
    val dir = replaceStore("bucket_store_replace_crash")
    val boom = new RuntimeException("crash before publish")
    val e = intercept[RuntimeException] {
      BucketStore.applyReplaceTick(dir, kv((3L, 30L)), batchId = 0L, n = 64,
        beforePublish = () => throw boom)
    }
    assert(e eq boom)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-0")))
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L)))
    assert(BucketStore.appliedBatchId(dir) === -1L)
    BucketStore.recover(dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "gen-0")))
    assert(storeRows(dir) === Set((1L, 10L), (2L, 20L)))
  }

  test("replace tick: a competing writer makes the replace throw ConcurrentWriterException") {
    val dir = replaceStore("bucket_store_replace_fence")
    val e = intercept[BucketStore.ConcurrentWriterException] {
      BucketStore.applyReplaceTick(dir, kv((5L, 50L)), batchId = 5L, n = 64,
        beforePublish = () => {
          assert(BucketStore.applyReplaceTick(dir, kv((4L, 40L)), batchId = 4L,
            n = 64).applied)
          ()
        })
    }
    assert(e.getMessage.contains("another maintainer"))
    // the winner's content is live, the loser's is not
    assert(storeRows(dir) === Set((4L, 40L)))
    assert(BucketStore.appliedBatchId(dir) === 4L)
  }

  test("replace tick: a bucket absent from the replace drops out of the manifest") {
    val dir = replaceStore("bucket_store_replace_drop")
    assert(manifestBuckets(dir) === Set(1, 2))
    BucketStore.applyReplaceTick(dir, kv((1L, 11L), (3L, 30L)), batchId = 0L, n = 64)
    assert(manifestBuckets(dir) === Set(1, 3))
    assert(BucketStore.readBuckets(spark, dir, Seq(2), n = 64).count() === 0L)
  }

  test("replace tick: pre-replace generations are gone after RetainManifests more publishes") {
    val dir = replaceStore("bucket_store_replace_gc")
    def gens(): Set[String] = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("gen-")).toSet
    BucketStore.applyAppendTick(spark, dir, kv((3L, 30L)), batchId = 0L, n = 64)
    BucketStore.applyAppendTick(spark, dir, kv((4L, 40L)), batchId = 1L, n = 64)
    BucketStore.applyReplaceTick(dir, kv((7L, 70L)), batchId = 2L, n = 64)
    // the previous manifest still names them: a reader resolved before
    // the replace can finish
    assert(Set("gen-base", "gen-0", "gen-1").subsetOf(gens()))
    (1 to BucketStore.RetainManifests).foreach { i =>
      BucketStore.applyAppendTick(spark, dir, kv((7L + i, 70L + i)), batchId = 2L + i, n = 64)
    }
    assert(gens().intersect(Set("gen-base", "gen-0", "gen-1")).isEmpty, gens())
    assert(storeRows(dir) === Set((7L, 70L), (8L, 71L), (9L, 72L)))
  }

  test("writer fencing: of two interleaved appliers exactly one wins and the loser fails loudly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_fence").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)

    def changesOf(k: Long, v: Long) = Seq((k, v)).toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))

    // Writer A reads the store, computes its merge, and — in the
    // window between its compute and its publish — writer B (a second
    // maintainer accidentally pointed at the same store) runs a full
    // tick. A's publish must then fail loudly, not overwrite B's.
    var interleaved = false
    val e = intercept[BucketStore.ConcurrentWriterException] {
      BucketStore.applyTick(spark, dir, changesOf(1L, 111L), Seq("k"),
        batchId = 5L, n = 64,
        beforePublish = () => {
          val st = BucketStore.applyTick(spark, dir, changesOf(2L, 222L),
            Seq("k"), batchId = 4L, n = 64)
          assert(st.applied)
          interleaved = true
        })
    }
    assert(interleaved)
    assert(e.getMessage.contains("another maintainer"))
    // store state equals the WINNER's tick: B's change landed, A's did not
    assert(storeRows(dir) === Set((1L, 10L), (2L, 222L)))
    assert(BucketStore.appliedBatchId(dir) === 4L)

    // the loser's orphaned generation is garbage, not live state, and
    // the next healthy tick publishes over it normally and gc sweeps it
    val st2 = BucketStore.applyTick(spark, dir, changesOf(3L, 30L), Seq("k"),
      batchId = 6L, n = 64)
    assert(st2.applied)
    assert(storeRows(dir) === Set((1L, 10L), (2L, 222L), (3L, 30L)))

    // same-batch-id race: B already published batch 7; A attempting
    // batch 7 afterwards is stopped by the replay guard (applied=false)
    BucketStore.applyTick(spark, dir, changesOf(1L, 77L), Seq("k"),
      batchId = 7L, n = 64)
    val replay = BucketStore.applyTick(spark, dir, changesOf(1L, 88L), Seq("k"),
      batchId = 7L, n = 64)
    assert(!replay.applied)
    assert(storeRows(dir) === Set((1L, 77L), (2L, 222L), (3L, 30L)))

    // the same loud loss through a CDC tick: nothing the fenced-off
    // tick cached outlives it in the long-lived session
    val rdir = java.nio.file.Files.createTempDirectory("bucket_store_fence_cdc").toString + "/store"
    seedRatings(rdir, 64, Seq((1L, 10L, 4.0), (2L, 10L, 5.0)))
    def cdcBatch(u: Long, r: Double) =
      Seq(RatingUpdate(u, 10L, r, false, ts("2024-01-02 00:00:00"), "upsert")).toDF()
    val loser = cdcBatch(1L, 1.0)
    val cached0 = persistedRdds()
    val e3 = intercept[BucketStore.ConcurrentWriterException] {
      EventStream.cdcMergeTick(spark, rdir, loser, batchId = 5L, nBuckets = 64,
        beforePublish = () => {
          assert(EventStream.cdcMergeTick(spark, rdir, cdcBatch(2L, 2.0),
            batchId = 4L, nBuckets = 64).exists(_.applied))
          ()
        })
    }
    assert(e3.getMessage.contains("another maintainer"))
    assert(BucketStore.appliedBatchId(rdir) === 4L)
    assert(ratingRows(rdir).map(r => (r._1, r._3)) === Set((1L, 4.0), (2L, 2.0)))
    assert(persistedRdds() === cached0, "the fenced-off tick left cached blocks behind")
  }

  test("writer lease: the loser is blocked at ENTRY — no orphan generation written at all") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_lease").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    def changesOf(k: Long, v: Long) = Seq((k, v)).toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))
    def genDirs(): Set[String] = new java.io.File(dir).listFiles().toSeq
      .map(_.getName).filter(_.startsWith("gen-")).toSet

    // under the fence alone, an interleaved writer B completes a full
    // tick and A's orphan generation hits disk before the loud loss;
    // under the LEASE, B cannot even enter: create-exclusive on the
    // lease file is atomic on a POSIX local FS, so B throws at entry
    // and writes NOTHING
    val leaseA = BucketStore.WriterLease(writerId = "maintainer-A")
    val leaseB = BucketStore.WriterLease(writerId = "maintainer-B")
    val gensBeforeB = new java.util.concurrent.atomic.AtomicReference[Set[String]](Set.empty)
    var bBlocked = false
    val stA = BucketStore.applyTick(spark, dir, changesOf(1L, 111L), Seq("k"),
      batchId = 5L, n = 64, lease = Some(leaseA),
      beforePublish = () => {
        gensBeforeB.set(genDirs())
        val e = intercept[BucketStore.ConcurrentWriterException] {
          BucketStore.applyTick(spark, dir, changesOf(2L, 222L), Seq("k"),
            batchId = 4L, n = 64, lease = Some(leaseB))
        }
        assert(e.getMessage.contains("lease held by another maintainer"))
        assert(genDirs() === gensBeforeB.get(), "loser wrote a generation before being blocked")
        bBlocked = true
      })
    assert(stA.applied && bBlocked)
    assert(storeRows(dir) === Set((1L, 111L), (2L, 20L))) // A's tick, uncontested
    assert(!genDirs().exists(_ == "gen-4"), "loser's orphan generation exists")

    // lease released after A's tick: B now enters and applies cleanly
    val stB = BucketStore.applyTick(spark, dir, changesOf(2L, 222L), Seq("k"),
      batchId = 6L, n = 64, lease = Some(leaseB))
    assert(stB.applied)
    assert(storeRows(dir) === Set((1L, 111L), (2L, 222L)))

    // crashed-holder story: a stale lease (expired TTL) is reclaimed,
    // a live one refuses
    val (fs0, p0) = (new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), new org.apache.hadoop.fs.Path(dir))
    val lp = new org.apache.hadoop.fs.Path(p0, "_graft_writer_lease")
    val out = fs0.create(lp, true)
    out.write(s"crashed-writer\n${System.currentTimeMillis() - 1000}".getBytes("UTF-8")); out.close()
    val stC = BucketStore.applyTick(spark, dir, changesOf(3L, 30L), Seq("k"),
      batchId = 7L, n = 64, lease = Some(leaseA))
    assert(stC.applied, "expired lease was not reclaimed")
    // same writer id re-enters (restart with a durable id): idempotent
    val out2 = fs0.create(lp, true)
    out2.write(s"maintainer-A\n${System.currentTimeMillis() + 600000}".getBytes("UTF-8")); out2.close()
    val stD = BucketStore.applyTick(spark, dir, changesOf(3L, 33L), Seq("k"),
      batchId = 8L, n = 64, lease = Some(leaseA))
    assert(stD.applied)
    ()
  }

  test("derived bucket counts pin the anchors/clamps; stores recover their layout from meta") {
    import spark.implicits._
    // test-SF floor: every test corpus keeps the historical 64
    assert(BucketStore.deriveBuckets(500) === 64)
    assert(BucketStore.deriveBuckets(256000) === 64)
    // scale anchor: 1M rows derive the 256 the scale run hand-picked
    assert(BucketStore.deriveBuckets(1000000L) === 256)
    // clamp + monotone: ~4k rows/bucket up to the 65536 top
    assert(BucketStore.deriveBuckets(1000000000L) === 65536)
    val ns = Seq(1L, 100000L, 1000000L, 100000000L, 10000000000L)
    assert(ns.map(BucketStore.deriveBuckets) === ns.map(BucketStore.deriveBuckets).sorted)
    // the cooc MATRIX store's own curve (r16, the r15 verdict's #3):
    // ~4M rows/bucket — ~1000× flatter than the row-store curve,
    // anchored by the 20M-fact sweep (196M matrix rows: walls
    // flat-to-adverse in bucket count, so the receipt point keeps the
    // measured-minimum 64 and granularity grows only with file scale)
    import graft.operators.ItemCF
    assert(ItemCF.deriveMatrixBuckets(1000L) === 64)       // test-SF floor
    assert(ItemCF.deriveMatrixBuckets(196000312L) === 64)  // the sweep receipt point
    assert(ItemCF.deriveMatrixBuckets(1000000000L) === 256)
    assert(ItemCF.deriveMatrixBuckets(1000000000000L) === 65536) // clamp
    assert(ns.map(ItemCF.deriveMatrixBuckets) === ns.map(ItemCF.deriveMatrixBuckets).sorted)
    // a seeded store's meta IS the layout contract: seededBuckets
    // round-trips the seed-time count, and an unseeded dir fails loudly
    val dir = java.nio.file.Files.createTempDirectory("derive_buckets").toString + "/s"
    BucketStore.seed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      BucketStore.longBucket(col("id"), 96), dir, 96)
    assert(BucketStore.seededBuckets(dir) === 96)
    intercept[IllegalStateException] {
      BucketStore.seededBuckets(dir + "_missing")
    }
    ()
  }

  test("generation footers match the recorded schema; empty-store reads report the same (relaxed) schema as pruned reads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_schema").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    def bucketed(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))
    BucketStore.applyTick(spark, dir, bucketed((3L, 30L)), Seq("k"), batchId = 0L, n = 64)
    BucketStore.applyAppendTick(spark, dir, bucketed((4L, 40L)), batchId = 1L, n = 64)
    // the store schema is immutable after seed: selectPaths reads every
    // generation with the RECORDED schema, so a tick that wrote drifted
    // columns would be silently masked (extras dropped, missing as
    // null). Pin that each generation's own footer-inferred schema
    // (field name -> type) equals the recorded one.
    val recorded = org.apache.spark.sql.types.DataType.fromJson(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_graft_schema")), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val recordedTypes = recorded.fields.map(f => f.name -> f.dataType).toMap
    val genDirs = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(genDirs.size >= 2) // seed collapsed by the merge? at least base+one live gen
    genDirs.foreach { g =>
      val inferred = spark.read.parquet(g.toString).schema
      assert(inferred.fields.map(f => f.name -> f.dataType).toMap === recordedTypes,
        s"generation ${g.getName} footer schema drifted from the recorded store schema")
    }
    // empty-store read path reports the recorded schema nullable-relaxed,
    // exactly like a pruned read of live buckets (r17 ADVICE: the two
    // branches disagreed on nullability)
    val live = BucketStore.readAll(spark, dir)
    val emptyDir = java.nio.file.Files.createTempDirectory("bucket_store_schema_e").toString + "/store"
    BucketStore.seed(Seq((1L, 10L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), emptyDir, n = 64)
    // tombstone the only row: the store becomes empty but must stay
    // readable off its recorded schema
    BucketStore.applyTick(spark, emptyDir,
      bucketed().select(col("k"), col("v"), col("bucket")), Seq("k"),
      batchId = 0L, n = 64,
      removed = Some(Seq(1L).toDF("k")
        .withColumn("bucket", BucketStore.longBucket(col("k"), 64))))
    val empty = BucketStore.readAll(spark, emptyDir)
    assert(empty.count() === 0)
    assert(empty.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq ===
      live.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
    ()
  }

  test("r17 tick job budget: one delta job per merge tick, zero per append tick; empty append still advances the marker") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_jobs").toString + "/store"
    BucketStore.seed(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), 64), dir, n = 64)
    def bucketed(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), 64))
    // count scheduled jobs across one tick — the r17 change folded the
    // merge tick's touched-bucket distinct and its broadcast-gate count
    // into ONE aggregation job, and removed the append tick's pre-write
    // distinct outright (touched buckets come off the written
    // generation's partition dirs, a filesystem listing)
    withJobCounts() { jobsOf =>
      // merge tick: ONE delta stats job (touched buckets + gate count
      // fused) + the broadcast build + the generation write = 3; the
      // pre-r17 shape paid 4 (distinct, gate count, broadcast, write)
      val mergeJobs = jobsOf("budget-merge") {
        BucketStore.applyTick(spark, dir, bucketed((1L, 11L)), Seq("k"),
          batchId = 0L, n = 64,
          removed = Some(Seq((2L, 0L)).toDF("k", "v")
            .select(col("k"), BucketStore.longBucket(col("k"), 64).as("bucket"))))
      }
      assert(storeRows(dir) === Set((1L, 11L)))
      assert(mergeJobs <= 3,
        s"merge tick should schedule at most 3 jobs (stats + broadcast + write), saw $mergeJobs")
      // append tick: the generation write only = exactly 1 (the
      // pre-r17 shape paid 2: a delta distinct, then the write)
      val appendJobs = jobsOf("budget-append") {
        val st = BucketStore.applyAppendTick(spark, dir, bucketed((3L, 30L)),
          batchId = 1L, n = 64)
        assert(st.applied && st.touchedBuckets === 1 && !st.compacted)
      }
      assert(storeRows(dir) === Set((1L, 11L), (3L, 30L)))
      assert(appendJobs <= 1,
        s"append tick should schedule at most 1 job (the write), saw $appendJobs")
      // empty append tick: no bucket dirs written → manifest unchanged,
      // marker advances (replay-guard requirement), store intact
      val st = BucketStore.applyAppendTick(spark, dir,
        spark.emptyDataset[(Long, Long)].toDF("k", "v")
          .withColumn("bucket", BucketStore.longBucket(col("k"), 64)),
        batchId = 2L, n = 64)
      assert(st.applied && st.touchedBuckets === 0 && !st.compacted)
      assert(BucketStore.appliedBatchId(dir) === 2L)
      assert(storeRows(dir) === Set((1L, 11L), (3L, 30L)))
      // and the replayed empty batch no-ops via the guard
      val st2 = BucketStore.applyAppendTick(spark, dir,
        bucketed((9L, 90L)), batchId = 2L, n = 64)
      assert(!st2.applied)
      assert(storeRows(dir) === Set((1L, 11L), (3L, 30L)))
    }
    // live-generation sweep, AQE on as the bench session runs it: a
    // tick-shaped pruned read (readBuckets semi-joined to the broadcast
    // keys of a cached batch) schedules the same jobs whether its
    // buckets hold 1 or DefaultMaxLiveGenerations − 1 stacked append
    // generations. A read planned as one relation per generation paid
    // one broadcast job per copy
    val sn = 8
    def prunedReadJobs(jobsOf: JobsOf, liveGens: Int): Int = {
      val sd = java.nio.file.Files.createTempDirectory("bucket_store_sweep").toString + "/store"
      BucketStore.seed((0L until 32L).map(k => (k, k)).toDF("k", "v"),
        BucketStore.longBucket(col("k"), sn), sd, n = sn)
      // each append tick stacks one generation of new keys on buckets 1..3
      (1 until liveGens).foreach { g =>
        BucketStore.applyAppendTick(spark, sd,
          (1L to 3L).map(b => (b + sn * (10L + g), g.toLong)).toDF("k", "v")
            .withColumn("bucket", BucketStore.longBucket(col("k"), sn)),
          batchId = g - 1L, n = sn)
      }
      assert(BucketStore.readBuckets(spark, sd, Seq(1, 2, 3), sn).inputFiles
        .map(_.split("/").find(_.startsWith("gen-")).get).toSet.size === liveGens)
      val probe = Seq(1L, 2L, 3L, 1L + sn * 11L).toDF("k").cache()
      probe.count()
      var found = 0
      val jobs = jobsOf(s"sweep-read-$liveGens") {
        found = BucketStore.readBuckets(spark, sd, Seq(1, 2, 3), sn)
          .join(broadcast(probe), Seq("k"), "left_semi").collect().length
      }
      probe.unpersist()
      assert(found === (if (liveGens > 1) 4 else 3))
      jobs
    }
    withJobCounts(aqe = true) { jobsOf =>
      val top = BucketStore.DefaultMaxLiveGenerations - 1
      val one = prunedReadJobs(jobsOf, 1)
      val stacked = prunedReadJobs(jobsOf, top)
      assert(one === stacked,
        s"pruned read jobs should not grow with live generations: $one at 1, $stacked at $top")
    }
  }

  test("one bucket exchange: a broadcast-gated merge tick's generation write shuffles once, above the union of carried and changed rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_cluster").toString + "/store"
    // a store with rows in several buckets, so the carry-over side is
    // a real multi-bucket scan
    BucketStore.seed(
      spark.range(0L, 1000L).select(col("id").as("k"), (col("id") * 2).as("v")),
      BucketStore.longBucket(col("k"), 8), dir, n = 8)
    val planFull = genWritePlan("gen-1") {
      BucketStore.applyTick(spark, dir,
        Seq((1L, 99L), (9L, 90L)).toDF("k", "v")
          .withColumn("bucket", BucketStore.longBucket(col("k"), 8)),
        Seq("k"), batchId = 1L, n = 8,
        removed = Some(Seq((2L, 0L)).toDF("k", "v")
          .select(col("k"), BucketStore.longBucket(col("k"), 8).as("bucket"))))
    }
    // AdaptiveSparkPlan's toString appends the pre-AQE "Initial Plan"
    // section after the final one — read the FINAL plan
    val plan = planFull.split("== Initial Plan ==")(0)
    val lines = plan.split("\n").toSeq
    // the ONLY shuffle is the write's bucket clustering, and it sits
    // above the union: carried and changed rows of a bucket meet in one
    // task, so the bucket comes out as one file
    val exchanges = lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning"))
    assert(exchanges.size === 1,
      s"merge write should plan exactly one hashpartitioning exchange, saw ${exchanges.size} in:\n$plan")
    val (exchange, at) = exchanges.head
    assert(exchange.contains("hashpartitioning(bucket"),
      s"the one exchange should cluster by bucket: $exchange")
    val union = lines.indexWhere(_.contains("Union"))
    assert(union > at, s"the bucket exchange should sit above the Union in:\n$plan")
    // the carry-over anti join stays a broadcast probe of the delta keys
    assert(lines.exists(l => l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"carry-over anti should be a broadcast join in:\n$plan")
    // and the merged content is right
    assert(storeRows(dir) === (
      (0L until 1000L).filterNot(k => k == 1L || k == 2L || k == 9L)
        .map(k => (k, k * 2)).toSet ++ Set((1L, 99L), (9L, 90L))))
  }

  /** Parquet files per `gen-*` / `bucket=*` dir of a store, keyed by
    * `gen/bucket`, plus every generation dir's entries.
    */
  private def genLayout(dir: String): (Map[String, Int], Seq[String]) = {
    val gens = new java.io.File(dir).listFiles().filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    val files = gens.flatMap { g =>
      g.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket=")).map { b =>
        s"${g.getName}/${b.getName}" -> b.listFiles().count(_.getName.endsWith(".parquet"))
      }
    }.toMap
    (files, gens.flatMap(g => g.listFiles().map(f => s"${g.getName}/${f.getName}")).toSeq)
  }

  test("every publish kind writes exactly one file per bucket per generation and no _SUCCESS marker") {
    import spark.implicits._
    val n = 8
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_one_file").toString + "/store"
    def bucketed(df: DataFrame) = df.withColumn("bucket", BucketStore.longBucket(col("k"), n))
    // multi-partition inputs: written as they come, a bucket would take
    // one file per input partition that holds its rows
    def range(from: Long, until: Long, v: Column) =
      spark.range(from, until, 1L, 4).select(col("id").as("k"), v.as("v"))
    // driver-side reference: a multiset of (k, v)
    var ref: Seq[(Long, Long)] = (0L until 400L).map(k => (k, k * 2))
    def check(kind: String): Unit = {
      val (files, entries) = genLayout(dir)
      assert(files.nonEmpty, s"$kind: no bucket dirs")
      files.foreach { case (b, c) => assert(c === 1, s"$kind: $b holds $c parquet files") }
      assert(!entries.exists(_.endsWith("_SUCCESS")), s"$kind: a generation holds a _SUCCESS marker")
      val rows = BucketStore.readAll(spark, dir).select("k", "v").as[(Long, Long)].collect().toSeq
      assert(rows.sorted === ref.sorted, s"$kind: store rows differ from the reference")
    }
    def upsert(rows: Seq[(Long, Long)], drop: Set[Long]): Unit = {
      val keys = rows.map(_._1).toSet ++ drop
      ref = ref.filterNot(r => keys(r._1)) ++ rows
    }
    BucketStore.seed(range(0L, 400L, col("id") * 2), BucketStore.longBucket(col("k"), n), dir, n)
    check("seed")

    // broadcast-gated merge: upserts, a new key and a delete
    val m1 = Seq((1L, 91L), (9L, 99L), (500L, 5L))
    BucketStore.applyTick(spark, dir, bucketed(m1.toDF("k", "v")), Seq("k"), batchId = 0L, n = n,
      removed = Some(bucketed(Seq(2L).toDF("k"))))
    upsert(m1, Set(2L))
    check("broadcast-gated merge")

    // above-gate merge: a key summary whose row bound exceeds the
    // broadcast cap makes the carry-over anti a shuffled join
    val m2 = (10L until 40L).map(k => (k, k + 1000L))
    val m2Drop = Set(41L, 42L)
    val m2Keys = bucketed((m2.map(_._1) ++ m2Drop).toDF("k"))
    val st2 = BucketStore.applyTick(spark, dir, bucketed(m2.toDF("k", "v")), Seq("k"),
      batchId = 1L, n = n, keys = Some(BucketStore.TickKeys(
        BucketStore.touchedBuckets(m2Keys.select("bucket")),
        graft.operators.Hints.DeltaBroadcastMaxRowsMd5 + 1, m2Keys.select("k"))))
    assert(st2.applied && !st2.compacted)
    upsert(m2, m2Drop)
    check("above-gate merge")

    // append: new keys stack one generation
    val a1 = range(1000L, 1040L, lit(7L))
    assert(!BucketStore.applyAppendTick(spark, dir, bucketed(a1), batchId = 2L, n = n).compacted)
    ref ++= (1000L until 1040L).map((_, 7L))
    check("append")

    // compacting merge: the fold rewrites every live bucket
    val m3 = Seq((3L, 33L))
    val st3 = BucketStore.applyTick(spark, dir, bucketed(m3.toDF("k", "v")), Seq("k"),
      batchId = 3L, n = n, maxLiveGenerations = 1)
    assert(st3.compacted)
    upsert(m3, Set.empty)
    check("compacting merge")

    // compacting append, plain fold
    val st4 = BucketStore.applyAppendTick(spark, dir, bucketed(range(2000L, 2040L, lit(8L))),
      batchId = 4L, n = n, maxLiveGenerations = 1)
    assert(st4.compacted)
    ref ++= (2000L until 2040L).map((_, 8L))
    check("compacting append, onCompact = None")

    // compacting append with a reduction: partial rows of keys 2000..2039
    // fold into one row each
    val st5 = BucketStore.applyAppendTick(spark, dir, bucketed(range(2000L, 2040L, lit(1L))),
      batchId = 5L, n = n, maxLiveGenerations = 1,
      onCompact = Some(_.groupBy("k", "bucket").agg(sum("v").as("v"))))
    assert(st5.compacted)
    ref = ref.map { case (k, v) => if (k >= 2000L) (k, v + 1L) else (k, v) }
    check("compacting append, onCompact = Some")

    // replace: the whole store becomes one new generation
    BucketStore.applyReplaceTick(dir, bucketed(range(5000L, 5100L, col("id") % 3)), batchId = 6L, n = n)
    ref = (5000L until 5100L).map(k => (k, k % 3))
    check("replace")
  }

  test("a merge tick whose generation write fails mid-job publishes nothing; recover and replay match a recompute") {
    import spark.implicits._
    val n = 8
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_failed_write").toString + "/store"
    def bucketed(df: DataFrame) = df.withColumn("bucket", BucketStore.longBucket(col("k"), n))
    BucketStore.seed((0L until 64L).map(k => (k, k)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), n), dir, n)
    BucketStore.applyTick(spark, dir, bucketed(Seq((1L, 100L)).toDF("k", "v")), Seq("k"),
      batchId = 0L, n = n)
    val p = java.nio.file.Paths.get(dir)
    def read(f: String) = new String(java.nio.file.Files.readAllBytes(p.resolve(f)), "UTF-8")
    val marker0 = read("_graft_applied_batch")
    val manifest0 = read("_graft_manifest_0")
    val before = storeRows(dir)
    // the batch: keys 0..31 get v = k + 500; key 13's value throws, so
    // the generation write fails inside one task, after the plan started.
    // A key summary keeps the tick from caching the delta first, so the
    // write is the job that runs the failing column
    def batch(failing: Boolean) = {
      val v = col("id") + 500L
      spark.range(0L, 32L, 1L, 4).select(col("id").as("k"),
        (if (failing) when(col("id") === 13L, raise_error(lit("injected write failure")).cast("long"))
          .otherwise(v) else v).as("v"))
    }
    def keys = {
      val ks = bucketed(spark.range(0L, 32L).select(col("id").as("k")))
      BucketStore.TickKeys(BucketStore.touchedBuckets(ks.select("bucket")), 32L, ks.select("k"))
    }
    val err = intercept[Exception] {
      BucketStore.applyTick(spark, dir, bucketed(batch(failing = true)), Seq("k"),
        batchId = 1L, n = n, keys = Some(keys))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected write failure")), err.toString)
    // nothing published: marker and manifest as before, readers unchanged
    assert(read("_graft_applied_batch") === marker0)
    assert(read("_graft_manifest_0") === manifest0)
    assert(!java.nio.file.Files.exists(p.resolve("_graft_manifest_1")))
    assert(storeRows(dir) === before)
    // no retained manifest names a generation that is not on disk
    val gens = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("gen-")).toSet
    new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("_graft_manifest_"))
      .foreach { m =>
        read(m).split("\n").filter(_.nonEmpty).flatMap(_.split("\t")(1).split(","))
          .foreach(g => assert(gens(g), s"$m names missing generation $g"))
      }
    // the job abort cleans up after the failed write; a writer killed
    // mid-job gets no abort and leaves its task files under
    // gen-1/_temporary. Plant that orphan: it is invisible to readers,
    // and recover deletes it
    val partial = p.resolve("gen-1/_temporary/0/_temporary/attempt_0/bucket=1")
    java.nio.file.Files.createDirectories(partial)
    java.nio.file.Files.write(partial.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(storeRows(dir) === before)
    BucketStore.recover(dir)
    assert(!java.nio.file.Files.exists(p.resolve("gen-1")))
    // the replayed batch equals a batch recompute of the same change
    val st = BucketStore.applyTick(spark, dir, bucketed(batch(failing = false)), Seq("k"),
      batchId = 1L, n = n, keys = Some(keys))
    assert(st.applied)
    assert(storeRows(dir) === (before.filterNot(_._1 < 32L) ++ (0L until 32L).map(k => (k, k + 500L))))
  }

  test("cdc tick job budget: one keys pass and one resolution, inside the write, on a store with 3 live generations") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_cdc_jobs").toString + "/store"
    val n = 16
    seedRatings(dir, n, (0L until 48L).map(u => (u, u % 5 + 1, 3.0)))
    def batch(rows: RatingUpdate*): DataFrame = rows.toDF().cache()
    // two ticks on distinct buckets stack generations: base, gen-0 (bucket 1), gen-1 (bucket 2)
    Seq(0L -> 1L, 1L -> 2L).foreach { case (batchId, u) =>
      val b = batch(RatingUpdate(u, 100L, 4.0, false, ts("2024-01-02 00:00:00"), "upsert"))
      EventStream.cdcMergeTick(spark, dir, b, batchId, n)
      b.unpersist()
    }
    // the measured tick reads a bucket out of each live generation
    val b = batch(
      RatingUpdate(1L, 100L, 2.2, false, ts("2024-01-03 00:00:00"), "upsert"), // gen-0
      RatingUpdate(2L, 3L, 0.0, false, ts("2024-01-03 00:00:00"), "delete"),   // gen-1
      RatingUpdate(3L, 200L, 5.0, true, ts("2024-01-03 00:00:00"), "upsert"))  // base
    assert(BucketStore.readBuckets(spark, dir, Seq(1, 2, 3), n).inputFiles
      .map(_.split("/").find(_.startsWith("gen-")).get).toSet ===
      Set("gen-base", "gen-0", "gen-1"))
    b.count() // the caller's batch cache is not the tick's work
    withJobCounts() { jobsOf =>
      var st: Option[BucketStore.TickStats] = None
      val jobs = jobsOf("budget-cdc") {
        st = EventStream.cdcMergeTick(spark, dir, b, batchId = 2L, nBuckets = n)
      }
      assert(st.exists(s => s.applied && s.touchedBuckets === 3 && !s.compacted))
      // one keys stats job, one broadcast of the batch keys (the semi
      // join over the store's one scan and the carry-over anti join
      // reuse one exchange with AQE off) and the generation write,
      // which runs the resolution. A second resolution (applyTick
      // caching its own changes/removed) or a second stats pass costs
      // at least one job more
      assert(jobs <= 3,
        s"cdc merge tick should schedule at most 3 jobs (keys stats + broadcast + write), saw $jobs")
    }
    b.unpersist()
    assert(ratingRows(dir).collect { case (u, i, r, _, _) if u <= 3L => (u, i, r) } ===
      Set((0L, 1L, 3.0), (1L, 2L, 3.0), (1L, 100L, 2.0), (2L, 100L, 4.0),
        (3L, 4L, 3.0), (3L, 200L, 5.0)))
    // live-generation sweep, AQE on as the bench session runs it: a
    // tick touching 7 buckets schedules the same jobs whether they sit
    // in the seed alone or in DefaultMaxLiveGenerations − 1 generations.
    // With one relation per generation, AQE planned the semi join's
    // broadcast once per copy, about two jobs per live generation
    def cdcTickJobs(jobsOf: JobsOf, liveGens: Int): Int = {
      val sd = java.nio.file.Files.createTempDirectory("bucket_store_cdc_sweep").toString + "/store"
      seedRatings(sd, n, (0L until 48L).map(u => (u, u % 5 + 1, 3.0)))
      // one tick per bucket 1..liveGens-1 stacks one live generation each
      (1 until liveGens).foreach { u =>
        val s = batch(RatingUpdate(u.toLong, 100L, 4.0, false, ts("2024-01-02 00:00:00"), "upsert"))
        EventStream.cdcMergeTick(spark, sd, s, u - 1L, n)
        s.unpersist()
      }
      val buckets = 1 to 7
      assert(BucketStore.readBuckets(spark, sd, buckets, n).inputFiles
        .map(_.split("/").find(_.startsWith("gen-")).get).toSet.size === liveGens)
      val s = batch(buckets.map(u =>
        RatingUpdate(u.toLong, 200L, 5.0, true, ts("2024-01-03 00:00:00"), "upsert")): _*)
      s.count()
      var st: Option[BucketStore.TickStats] = None
      val jobs = jobsOf(s"sweep-cdc-$liveGens") {
        st = EventStream.cdcMergeTick(spark, sd, s, liveGens - 1L, n)
      }
      s.unpersist()
      assert(st.exists(t => t.applied && t.touchedBuckets === 7 && !t.compacted))
      assert(ratingRows(sd).count(_._2 == 200L) === 7)
      jobs
    }
    withJobCounts(aqe = true) { jobsOf =>
      val top = BucketStore.DefaultMaxLiveGenerations - 1
      val one = cdcTickJobs(jobsOf, 1)
      val stacked = cdcTickJobs(jobsOf, top)
      assert(one === stacked,
        s"cdc tick jobs should not grow with live generations: $one at 1, $stacked at $top")
    }
  }

  test("cdc summary path ≡ applyTick's own derivation: rows, manifest buckets and TickStats per tick") {
    import spark.implicits._
    val n = 16
    val root = java.nio.file.Files.createTempDirectory("bucket_store_cdc_equiv").toString
    val own = root + "/own"; val summary = root + "/summary"
    val seedRows = (0L until 48L).flatMap(u => Seq((u, 1L, 3.0), (u, 2L, 4.0)))
    Seq(own, summary).foreach(seedRatings(_, n, seedRows))
    def bucketed(df: DataFrame) =
      df.withColumn(BucketStore.BucketCol, BucketStore.longBucket(col("user_id"), n))
    // the tick body without a key summary: applyTick derives touched
    // buckets, key count and drop set from changes ∪ removed itself
    def ownTick(b: DataFrame, batchId: Long): BucketStore.TickStats = {
      val keys = b.select(col("user_id"), col("item_id")).distinct()
      val touched = BucketStore.touchedBuckets(bucketed(keys).select(BucketStore.BucketCol))
      val base = BucketStore.readBuckets(spark, own, touched, n)
        .join(keys, Seq("user_id", "item_id"), "left_semi")
      val (changes, removed) = Mutations.applyBatchDelta(base, b)
      BucketStore.applyTick(spark, own, bucketed(changes), Seq("user_id", "item_id"),
        batchId, n, removed = Some(bucketed(removed)))
    }
    def day(d: Int) = ts(f"2024-02-$d%02d 00:00:00")
    def up(u: Long, i: Long, r: Double, d: Int) = RatingUpdate(u, i, r, false, day(d), "upsert")
    def del(u: Long, i: Long, d: Int) = RatingUpdate(u, i, 0.0, false, day(d), "delete")
    val cases = Seq(
      // users 5, 21, 37 are all of bucket 5: the tick empties it
      "empties a bucket" -> Seq(5L, 21L, 37L).flatMap(u => Seq(del(u, 1L, 1), del(u, 2L, 1))),
      // same-ts upsert/delete pairs on one key: the upsert wins
      "same-ts conflict" -> Seq(up(6L, 1L, 1.3, 2), del(6L, 1L, 2),
        del(7L, 2L, 2), up(7L, 2L, 2.0, 2)),
      "delete of an absent key" -> Seq(del(8L, 99L, 3)),
      "brand-new keys" -> Seq(up(100L, 1L, 3.3, 4), up(9L, 50L, 2.5, 4))) ++
      // one fresh bucket per tick stacks live generations until the
      // live-generation bound makes a tick compact
      (10L to 15L).map(u => s"filler user $u" -> Seq(up(u, 1L, 1.0, 5)))
    var compactions = 0
    cases.zipWithIndex.foreach { case ((name, rows), i) =>
      val b = rows.toDF().cache()
      val ownSt = ownTick(b, i.toLong)
      val sumSt = EventStream.cdcMergeTick(spark, summary, b, i.toLong, n)
      b.unpersist()
      assert(sumSt === Some(ownSt), s"$name: TickStats differ")
      assert(ratingRows(summary) === ratingRows(own), s"$name: store rows differ")
      assert(manifestBuckets(summary) === manifestBuckets(own), s"$name: manifest buckets differ")
      if (ownSt.compacted) compactions += 1
    }
    assert(!manifestBuckets(summary).contains(5), "the emptied bucket stays in the manifest")
    assert(ratingRows(summary).exists(r => r._1 == 6L && r._2 == 1L && r._3 == 1.5))
    assert(compactions === 1, "the sequence should end on exactly one compacting tick")
    // an empty batch applies nothing: no stats, marker untouched
    val marker0 = BucketStore.appliedBatchId(summary)
    assert(EventStream.cdcMergeTick(spark, summary,
      Seq.empty[RatingUpdate].toDF(), marker0 + 1, n).isEmpty)
    assert(BucketStore.appliedBatchId(summary) === marker0)
  }

  test("public reads plan no _metadata / file_path attribute; a merge tick's carry-over read does") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_plan_guard").toString + "/store"
    val n = 8
    BucketStore.seed((0L until 40L).map(k => (k, k)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), n), dir, n = n)
    def bucketed(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), n))
    // the tick's own read does plan the attribute: the guard below can see it
    val tickPlan = genWritePlan("gen-0") {
      BucketStore.applyTick(spark, dir, bucketed((1L, 11L)), Seq("k"), batchId = 0L, n = n)
    }
    assert(tickPlan.contains("file_path"),
      s"the carry-over read restores bucket off the file path, plan:\n$tickPlan")
    BucketStore.applyAppendTick(spark, dir, bucketed((41L, 41L)), batchId = 1L, n = n)
    // a Spark plan that references _metadata keeps the whole struct in
    // the scan even once bucket is dropped, so the public reads, which
    // drop bucket, must never reference it
    Seq(
      "readAll" -> BucketStore.readAll(spark, dir),
      "readBuckets" -> BucketStore.readBuckets(spark, dir, Seq(1, 2), n),
      "readAt" -> BucketStore.readAt(spark, dir, 0L)).foreach { case (name, df) =>
      assert(df.collect().nonEmpty)
      assert(!df.columns.contains("bucket"), s"$name returned the storage column")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("_metadata") && !plan.contains("file_path"),
        s"$name plans a file-metadata attribute:\n$plan")
    }
  }

  test("a store rooted under a bucket=<b> dir: merge ticks and compaction folds write every row back to its own bucket") {
    import spark.implicits._
    val n = 8
    // the root path itself holds a bucket=5 segment: the bucket a tick
    // read restores must come from the file's own dir, not the first
    // bucket= in its path
    val dir = java.nio.file.Files.createTempDirectory("bucket_store_root").toString +
      "/bucket=5/store"
    BucketStore.seed((0L until 40L).map(k => (k, k)).toDF("k", "v"),
      BucketStore.longBucket(col("k"), n), dir, n = n)
    def bucketed(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), n))
    val merge = BucketStore.applyTick(spark, dir, bucketed((1L, 11L), (2L, 22L), (41L, 41L)),
      Seq("k"), batchId = 0L, n = n,
      removed = Some(Seq(4L).toDF("k").withColumn("bucket", BucketStore.longBucket(col("k"), n))))
    assert(merge.applied && !merge.compacted && merge.touchedBuckets === 3)
    // base + gen-0 are live, so a bound of 2 makes the next append fold
    val fold = BucketStore.applyAppendTick(spark, dir, bucketed((50L, 50L), (53L, 53L)),
      batchId = 1L, n = n, maxLiveGenerations = 2)
    assert(fold.applied && fold.compacted)
    val expected = ((0L until 40L).filterNot(_ == 4L).map(k => k -> k).toMap ++
      Map(1L -> 11L, 2L -> 22L, 41L -> 41L, 50L -> 50L, 53L -> 53L)).toSet
    assert(storeRows(dir) === expected)
    // every data file under every generation holds only its own bucket's keys
    val gens = new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
    assert(gens.map(_.getName).toSet === Set("gen-base", "gen-0", "gen-1"))
    gens.foreach { g =>
      g.listFiles().toSeq.filter(_.getName.startsWith("bucket=")).foreach { bd =>
        val b = bd.getName.stripPrefix("bucket=").toInt
        val ks = spark.read.parquet(bd.toString).select("k").collect().map(_.getLong(0))
        assert(ks.nonEmpty && ks.forall(k => java.lang.Math.floorMod(k, n.toLong) == b),
          s"${g.getName}/${bd.getName} holds keys of other buckets: ${ks.sorted.mkString(",")}")
      }
    }
  }

  test("a store without its schema file reads and ticks off one generation's footer schema, unchanged") {
    import spark.implicits._
    val n = 8
    val root = java.nio.file.Files.createTempDirectory("bucket_store_no_schema").toString
    val kept = root + "/kept"; val bare = root + "/bare"
    def bucketed(rows: (Long, Long)*) = rows.toDF("k", "v")
      .withColumn("bucket", BucketStore.longBucket(col("k"), n))
    // two identical multi-generation stores: base, a merge gen, an append gen
    Seq(kept, bare).foreach { d =>
      BucketStore.seed((0L until 40L).map(k => (k, k)).toDF("k", "v"),
        BucketStore.longBucket(col("k"), n), d, n = n)
      BucketStore.applyTick(spark, d, bucketed((1L, 11L), (2L, 22L)), Seq("k"),
        batchId = 0L, n = n)
      BucketStore.applyAppendTick(spark, d, bucketed((43L, 43L), (44L, 44L)), batchId = 1L, n = n)
    }
    def schemaOf(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    val before = storeRows(bare)
    val beforeSchema = schemaOf(BucketStore.readAll(spark, bare))
    assert(new java.io.File(bare, "_graft_schema").delete())
    assert(storeRows(bare) === before)
    assert(schemaOf(BucketStore.readAll(spark, bare)) === beforeSchema)
    assert(BucketStore.readBuckets(spark, bare, Seq(1, 3, 4), n).collect().toSet ===
      BucketStore.readBuckets(spark, kept, Seq(1, 3, 4), n).collect().toSet)
    // the next merge tick reads buckets out of all three generations,
    // then an append folds the store: both equal the schema-file twin
    Seq(kept, bare).foreach { d =>
      BucketStore.applyTick(spark, d, bucketed((3L, 33L), (9L, 99L), (43L, 430L)), Seq("k"),
        batchId = 2L, n = n,
        removed = Some(Seq(12L).toDF("k").withColumn("bucket", BucketStore.longBucket(col("k"), n))))
      assert(BucketStore.applyAppendTick(spark, d, bucketed((60L, 60L)), batchId = 3L, n = n,
        maxLiveGenerations = 2).compacted)
    }
    val expected = (before.toMap -- Seq(12L) ++
      Map(3L -> 33L, 9L -> 99L, 43L -> 430L, 60L -> 60L)).toSet
    assert(storeRows(kept) === expected)
    assert(storeRows(bare) === expected)
  }
}
