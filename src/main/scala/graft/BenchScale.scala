package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress bench: generator-driven load on the worst-shuffle
  * operators at ~20-30× the sf0.1 bench corpus, with GENUINE planted
  * skew — the measurement the per-round bench cannot provide (its
  * testdata is unskewed and an order of magnitude smaller). Every
  * "survives 100×" claim in SURVEY §4 is plan-reasoning until a run
  * like this load-tests it.
  *
  * What it measures (one JSON line, like [[Bench]]):
  *  - `cooc_plain_unskewed` vs `cooc_derived_unskewed`: the derived
  *    hot-cut gate ([[operators.ItemCF.derivedHotCut]]) must measure
  *    ZERO hot users on unskewed facts and cost ≈ the plain plan
  *    (the measured-gate overhead is one map-side degree pass);
  *  - `cooc_plain_skewed` vs `cooc_derived_skewed`: under planted
  *    genuine skew (a handful of users with thousands-deep profiles,
  *    the uncapped-matrix regime) the salted arm must engage and WIN —
  *    the r8 VERDICT's crossover demonstration;
  *  - `user_sim`, `recs_serve`: the other two worst-shuffle plans from
  *    the round bench, at scale, via their `*On` seams;
  *  - `cooc_store_soak`: seed the full pair matrix into a bucketed
  *    [[streaming.BucketStore]] and apply one delta tick — the
  *    maintainer regime's two heaviest store operations at scale.
  *
  * Facts come from [[sources.v2.RatingsGenSource]] (deterministic,
  * partition-parallel); the planted hot block is a range join-free
  * construction, disjoint user ids, in-catalog items. Not part of the
  * driver's per-round bench: run manually, results recorded in
  * BENCH_scale.json + SURVEY §7f.
  */
object BenchScale {

  def main(args: Array[String]): Unit = {
    val rows = sys.env.get("SPARK_GRAFT_SCALE_ROWS").map(_.toLong).getOrElse(20000000L)
    val users = rows / 20L
    val items = 100000L
    // 20 000-deep profiles: deg²/2 = 200M pairs EACH, landing on one
    // task apiece under the plain plan (~20× the ~9M-pair typical task
    // at 20M facts) — the uncapped-matrix straggler regime the salted
    // arm exists for. A 4 000-deep plant was measured too mild: the
    // 16M-pair straggler hid inside normal task variance (warm reps
    // 20.2 s plain vs 19.1 s salted — no decisive crossover to show).
    val hotUsers = sys.env.get("SPARK_GRAFT_SCALE_HOT_USERS").map(_.toInt).getOrElse(8)
    val hotDeg = sys.env.get("SPARK_GRAFT_SCALE_HOT_DEG").map(_.toInt).getOrElse(20000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_scale.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64") // 2 waves on 32 cores at this volume
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(taskEnd: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = taskEnd.taskMetrics
        if (m != null) shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })

    def gen(n: Long): DataFrame = spark.read
      .format("graft.sources.v2.RatingsGenSource")
      .option("rows", n).option("partitions", 64)
      .option("users", users).option("items", items).option("seed", 42)
      .load()

    // one row per (user, item) — the interactions upsert shape.
    // Materialized to parquet ONCE: every timed query then pays a
    // plain columnar scan (like a real fact table), and clearCache
    // between queries cannot silently re-run the 20M-row generate +
    // upsert inside someone's timing.
    val scaleDir = "target/graft-scale"
    locally {
      val hp = new org.apache.hadoop.fs.Path(scaleDir)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
      ()
    }
    gen(rows)
      .groupBy(col("user_id"), col("item_id"))
      .agg(max(col("rating")).as("rating"), max(col("ts")).as("ts"))
      .write.parquet(s"$scaleDir/facts")
    // planted GENUINE skew: hotUsers profiles of hotDeg distinct
    // in-catalog items each — deg² per hot user is the uncapped-matrix
    // straggler the salted arm exists for. Disjoint user-id space.
    spark.range(hotUsers.toLong * hotDeg).select(
      (lit(2000000000L) + expr(s"id div $hotDeg")).as("user_id"),
      ((col("id") % hotDeg) * 7 % items).cast("long").as("item_id"),
      lit(4.0).as("rating"),
      lit("2024-06-15 00:00:00").cast("timestamp").as("ts"))
      .write.parquet(s"$scaleDir/hot")
    val factsUnskewed = spark.read.parquet(s"$scaleDir/facts")
    val factsSkewed = factsUnskewed.unionByName(spark.read.parquet(s"$scaleDir/hot"))
    val nFacts = factsUnskewed.count()
    val nFactsSkewed = factsSkewed.count()

    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long)]
    def timedOnce(name: String)(df: => DataFrame): Unit = {
      val b0 = shuffleBytes.get()
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(50) // drain the async listener bus
      val better = results.get(name).forall(_._1 > dt)
      if (better) results(name) = (dt, shuffleBytes.get() - b0)
      spark.catalog.clearCache() // per-query operator caches only; facts are parquet
      println(f"[scale] $name%-24s ${dt}%8.1f s  ${(shuffleBytes.get() - b0) / 1e6}%10.1f MB shuffle")
    }

    import graft.operators.ItemCF
    val pu = factsUnskewed.select(col("user_id"), col("item_id"))
    val ps = factsSkewed.select(col("user_id"), col("item_id"))

    // The four cooc variants feed RATIO claims (gate overhead on
    // unskewed, salted-vs-plain crossover under skew), so each is the
    // MIN of two interleaved reps: the first pass through any plan
    // pays JIT + codegen + page-cache warmup that would otherwise land
    // entirely on whichever query happens to run first (measured: the
    // very first rep reads ~25% slower than its warm re-run).
    for (_ <- 0 until 2) {
      timedOnce("cooc_plain_unskewed")(ItemCF.coocCountsOn(pu))
      timedOnce("cooc_derived_unskewed")(ItemCF.coocCountsOn(pu, ItemCF.DerivedHotDegree))
      timedOnce("cooc_plain_skewed")(ItemCF.coocCountsOn(ps))
      timedOnce("cooc_derived_skewed")(ItemCF.coocCountsOn(ps, ItemCF.DerivedHotDegree))
    }
    // A THIRD interleaved rep for the unskewed pair only: its ratio
    // (the derived-gate overhead) carries a ≤1.1 bar, tight enough
    // that one GC/host-noise outlier in min-of-2 fakes a 30% gate tax
    // (measured: a 45 s outlier against a 16 s warm plain while the
    // same-rep shuffle bytes stayed byte-identical). The pair costs
    // seconds; the skewed arms' minutes stay at two reps.
    timedOnce("cooc_plain_unskewed")(ItemCF.coocCountsOn(pu))
    timedOnce("cooc_derived_unskewed")(ItemCF.coocCountsOn(pu, ItemCF.DerivedHotDegree))
    def timed(name: String)(df: => DataFrame): Unit = timedOnce(name)(df)

    timed("user_sim")(ItemCF.userSimilarityOn(
      Tables.capDegree(factsSkewed, "item_id", "user_id", ItemCF.DefaultMaxDegree)
        .select(col("user_id"), col("item_id"), col("rating")).cache(),
      minCommon = 3, minSim = 0.0))
    timed("recs_serve")(graft.operators.Serving.recsServeOn(
      factsSkewed, cutoff = "2024-07-01"))
    // the MF path at scale: blocked MLlib ALS train + one-pass
    // unseen top-n scoring on the 20M-fact set
    timed("als_top_n")(graft.recommender.Als.topNOn(
      factsUnskewed.select(col("user_id"), col("item_id"), col("rating")),
      n = 20))

    // store soak: full-matrix seed + one ~5% delta tick through the
    // bucketed store (the two heaviest maintainer operations). r16
    // (the r15 verdict's #3): the matrix store's bucket count was the
    // one layout knob still explicit, because its row economics
    // (~pairs ≫ facts, narrow rows) had no measured anchor — sweep
    // the candidate layouts and record the matrix row count, the
    // receipt the derivation (or a documented stay-explicit) cites.
    val cutTs = "2024-12-15 00:00:00"
    val oldFacts = factsUnskewed.filter(col("ts") < lit(cutTs).cast("timestamp"))
      .select(col("user_id"), col("item_id")).cache()
    val deltaFacts = factsUnskewed.filter(col("ts") >= lit(cutTs).cast("timestamp"))
      .select(col("user_id"), col("item_id"))
    def soakAt(nBuckets: Int, seedKey: String, tickKey: String): Unit = {
      // the seed clears the previous run's store at this path
      val soakDir = s"target/graft-scale/cooc_store_${rows}_b$nBuckets"
      // r17: the matrix store is packed-key — (pk, n_users), bucketed
      // by pairBucket (≡ the previous pmod(item_a, n) placement); the
      // read-back projects pk so the timed frame's width matches the
      // previous item_a probe
      timed(seedKey)(
        // seed returns Unit; wrap the read-back count as the timed frame
        { graft.streaming.BucketStore.seed(ItemCF.coocCountsPkOn(oldFacts),
            ItemCF.pairBucket(col("pk"), nBuckets), soakDir, nBuckets)
          graft.streaming.BucketStore.readAll(spark, soakDir).select(col("pk")) })
      timed(tickKey) {
        ItemCF.coocMergeTick(spark, soakDir, oldFacts, deltaFacts, batchId = 0L,
          nBuckets = nBuckets)
        graft.streaming.BucketStore.readAll(spark, soakDir).select(col("pk"))
      }
    }
    // canonical keys stay the historical 256 layout (round-over-round
    // comparability); the sweep arms land as _b64/_b1024
    soakAt(256, "cooc_store_seed", "cooc_store_tick")
    soakAt(64, "cooc_store_seed_b64", "cooc_store_tick_b64")
    soakAt(1024, "cooc_store_seed_b1024", "cooc_store_tick_b1024")
    // the anchor the derivation needs: how many matrix rows this
    // facts table actually produces (read back from the seeded store
    // — one pruned columnar scan, not a re-aggregation)
    val matrixRows = graft.streaming.BucketStore
      .readAll(spark, s"target/graft-scale/cooc_store_${rows}_b256")
      .select(col("pk")).count()

    val qs = results.map { case (k, (v, _)) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val sb = results.map { case (k, (_, b)) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val crossoverOk = results("cooc_derived_skewed")._1 < results("cooc_plain_skewed")._1
    val gateOverhead =
      results("cooc_derived_unskewed")._1 / results("cooc_plain_unskewed")._1
    // r17 (ADVICE): the headline total excludes the r16 bucket-sweep
    // arms (_b64/_b1024) so it stays comparable with every pre-sweep
    // round — the canonical seed/tick keys were kept at 256 for
    // exactly that reason; the sweep's own sum lands as sweep_total
    val isSweep = (k: String) => k.endsWith("_b64") || k.endsWith("_b1024")
    val coreTotal = results.collect { case (k, (v, _)) if !isSweep(k) => v }.sum
    val sweepTotal = results.collect { case (k, (v, _)) if isSweep(k) => v }.sum
    val host = java.net.InetAddress.getLocalHost.getHostName
    val stamp = java.time.Instant.now().toString
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val line = s"""{"metric":"scale_total","value":$coreTotal,""" +
      s""""sweep_total":$sweepTotal,""" +
      s""""unit":"sec","rows":$rows,"facts":$nFacts,"facts_skewed":$nFactsSkewed,""" +
      s""""hot_users":$hotUsers,"hot_degree":$hotDeg,"cooc_matrix_rows":$matrixRows,""" +
      f""""derived_gate_overhead_unskewed":$gateOverhead%.3f,""" +
      s""""salted_crossover_ok":$crossoverOk,""" +
      // host context (r16 verdict #5): wall comparisons across rounds
      // need the run's host-day conditions on record — the ratio
      // claims are same-run and never did
      f""""host":"$host","run_at":"$stamp","load_avg_at_exit":$loadAvg%.2f,""" +
      s""""queries":$qs,"shuffle_bytes":$sb}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[scale] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
