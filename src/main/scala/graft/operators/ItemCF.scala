package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Neighborhood (item-item) collaborative filtering — the classic
  * complement to the matrix-factorization path in
  * [[graft.recommender.Als]]. The reference README frames its engine
  * as "user-item collaborative filtering" with SVD as the chosen
  * variant; the item-item neighborhood variant is the other standard
  * member of that family, and at scale it is a pure sparse-join
  * computation (no training loop at all).
  *
  * All arithmetic is exact in binary (half-star ratings → quarter-step
  * products), so the cosine similarities are engine-deterministic and
  * fully SQL-oracle-checkable — unlike the ALS path.
  *
  * '''Scale contract''': every pair self-join here runs over a
  * degree-capped working set ([[Tables.capDegree]], default 128 per
  * user for item pairs / per item for user pairs). Pair count is
  * Σ_key deg(key)², so without the cap a single power user with 10⁵
  * interactions emits 10¹⁰ pairs — a data-dependent blowup no runtime
  * feature (AQE skew split included) rescues. With it, the shuffle is
  * bounded by cap × |working set|. The cap is profile truncation by
  * (rating, recency) — the standard neighborhood-CF practice — and the
  * SQL oracles express the identical cap, so results stay hash-checked.
  */
object ItemCF {

  /** Max interactions kept per user (item-pair joins) or per item
    * (user-pair joins). Above every test SF's max degree (90 at
    * sf0.01, 105 at sf0.1) so small-SF output is unchanged; at 100 TB
    * it is the O(Σ deg²) bound that keeps the pair join runnable.
    */
  val DefaultMaxDegree = 128

  /** Sentinel for `hotDegree`: derive the hot-user cut from the
    * MEASURED degree distribution ([[derivedHotCut]]) instead of a
    * constant — the default for [[cooccurrenceSalted]], so the salted
    * arm engages only under genuine, observed skew.
    */
  val DerivedHotDegree: Int = -1

  /** Floor for the derived cut. Below this degree, a user's deg²
    * pair generation (≤ 65k pairs) is a non-problem for any task, so
    * salting them only pays replication cost. Above every test SF's
    * max degree — unskewed data takes the plain plan untouched.
    */
  val DerivedHotFloor = 256

  /** Sentinel for `salts`: derive the salt count from the measured
    * skew — min(work-split need deg²/[[TargetPairsPerSaltTask]],
    * parallelism coverage P/hotUsers), clamped to [8, 64] — instead
    * of a constant. See the derivation note in [[coocCountsOn]]: hot
    * work is conserved across salt counts, so salts beyond partition
    * coverage only buy replication (scale-measured).
    */
  val DerivedSalts: Int = -1

  /** Target pair-generation work per (hot user, salt) task under the
    * derived salt count — a few seconds of codegen'd hash-agg work.
    */
  val TargetPairsPerSaltTask: Long = 5000000L

  /** Modulus of the content-hash degree sample the derived gate
    * measures LARGE corpora with: 1-in-50 = 2%. A percentile of the
    * extreme tail tolerates sampling (a 20k-deep profile shows ~400
    * sampled rows, ±5%), and which side of the cut a borderline user
    * lands on changes only the plan, never the values — so the gate
    * tax on an unskewed build drops from a full-degree groupBy to a
    * 2% one (scale-measured at 20M facts: the full pass cost ~30%
    * over plain). Content-hash (not `sample()`): deterministic
    * across task retries and bench reps.
    */
  val DegreeSampleMod = 50

  /** Estimated-facts floor for sampling the degree measurement: under
    * it the exact groupBy is cheap and keeps the derived gate's plan
    * byte-identical to r9's on every test SF; over it the sampled
    * estimate takes over.
    */
  val DerivedSampleMinFacts: Long = 2000000L

  /** Minimum SAMPLED rows to flag a user hot from the sample. At 2%,
    * a user needs true degree ≥ ~500 before 10 sampled hits become
    * likely — which is exactly the population worth salting; the
    * Poisson tail of ordinary users (λ ≈ 1) reaches 10 hits with
    * probability ~1e-7, so false hot flags are ~zero (and harmless:
    * the salted arm is value-identical for ANY hot set).
    */
  val MinSampledHits = 10

  /** Max hot-user ids pulled to the driver for the literal in-set
    * (4M longs = 32 MB — the same order the broadcast these ids
    * previously rode would have shipped). A cut that marks more users
    * hot than this is degenerate (salting a corpus-sized population
    * replicates the b-side corpus-wide — a pessimization, not a
    * mitigation), so the plain plan + AQE takes over instead.
    */
  private val HotIdsMaxCollect = 4 << 20

  /** One shared, cached working set per query: the interactions build
    * (orders⋈lineitem + upsert window) feeds 2-4 branches of every CF
    * plan; uncached, Catalyst re-derives that two-shuffle chain per
    * branch.
    */
  private def cappedByUser(spark: SparkSession, sfDir: String, cap: Int): DataFrame =
    Tables.capDegree(Tables.interactions(spark, sfDir), "user_id", "item_id", cap)
      .select(col("user_id"), col("item_id"), col("rating"))
      .cache()

  /** The pair aggregations group by (id_a, id_b) PACKED into one long
    * (a << 32 | b): one 8-byte shuffle key instead of two, one hash
    * instead of two — measured 1.65 s vs 2.85 s for the sf0.1 dots
    * aggregate. Requires ids in [0, 2³²); beyond that, dense
    * re-indexing applies first (the same contract MLlib ALS imposes —
    * see Als.trainingSet).
    */
  private def packPair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    shiftleft(a, 32) + b
  // unsigned shift: an id in [2^31, 2^32) sets the packed long's sign
  // bit, and an arithmetic shift would sign-extend it back negative
  private def unpackA(pk: org.apache.spark.sql.Column) = shiftrightunsigned(pk, 32)
  private def unpackB(pk: org.apache.spark.sql.Column) = pk.bitwiseAND(lit(0xffffffffL))

  /** Market-basket co-occurrence: item pairs sharing users. The pair
    * space forms ONLY through the per-user self-join (sparse — never
    * |items|²), degree-capped per user.
    */
  def cooccurrence(spark: SparkSession, sfDir: String, minUsers: Int = 3,
                   maxDegree: Int = DefaultMaxDegree): DataFrame = {
    val i = cappedByUser(spark, sfDir, maxDegree).select(col("user_id"), col("item_id"))
    coocCountsOn(i).filter(col("n_users") >= minUsers)
  }

  /** [[cooccurrence]] with the measured skew gate ARMED (registered as
    * `q_item_cooc_salted`, HASH-gated against the SAME oracle as
    * `q_item_cooc`): the hot cut is DERIVED from the observed degree
    * distribution ([[derivedHotCut]] — p99.9 clamped to
    * ≥ [[DerivedHotFloor]]), so on the unskewed test SFs (max degree
    * ≤ 105) zero users measure hot and the gate hands back the plain
    * plan — cost ≈ `q_item_cooc` + one partial-agg degree pass, and
    * the oracle hash holds structurally. Under genuine skew (degrees
    * past the floor AND past the corpus's own p99.9) the salted arm
    * engages; its value identity is pinned by SkewSpec on planted-skew
    * fixtures where the derived cut marks exactly the planted hot
    * users.
    */
  def cooccurrenceSalted(spark: SparkSession, sfDir: String, minUsers: Int = 3,
                         maxDegree: Int = DefaultMaxDegree,
                         hotDegree: Int = DerivedHotDegree,
                         salts: Int = DerivedSalts): DataFrame = {
    val i = cappedByUser(spark, sfDir, maxDegree).select(col("user_id"), col("item_id"))
    coocCountsOn(i, hotDegree, salts).filter(col("n_users") >= minUsers)
  }

  /** Unfiltered pair counts (minUsers = 1) over an arbitrary
    * (user_id, item_id) fact set — the shared core of [[cooccurrence]]
    * and the incremental path below.
    *
    * '''Skew''': the self-join shuffles on `user_id`, so ONE user's
    * entire deg² pair generation runs in the single task that holds
    * their key — and unlike the similarity path, the matrix builds
    * here run over UNCAPPED facts (the matrix must count every pair).
    * With `hotDegree` set, users whose degree exceeds it (measured by
    * one cheap partial-agg pass) take a SALTED self-join instead:
    * their a-side rows are salted by `item_a` content
    * ([[Skew.salt]] — deterministic, retry-safe), their b-side rows
    * replicated across the salts, and the join key becomes
    * (user_id, salt) — per-task work drops from deg² to deg²/salts
    * while each (a < b) pair still forms exactly once (in a's salt
    * partition). Normal users keep the plain path; the b-side
    * replication cost is confined to the measured-hot rows. The gate
    * is measured, not assumed: no hot users → the plain plan,
    * byte-identical results either way (SkewSpec pins the salted
    * shuffle key and the identity; `q_item_cooc_salted` HASH-gates it
    * against the same oracle as `q_item_cooc`).
    *
    * `hotDegree` forms: `Int.MaxValue` (default) = gate off entirely;
    * [[DerivedHotDegree]] = cut from the measured distribution
    * ([[derivedHotCut]]); any other value = explicit cut (spec use).
    * The hot POPULATION rides to the tasks as a literal in-set: the
    * gate's own count materializes the ids, and the set is by
    * construction the extreme tail (p99.9 past a floor), so the
    * driver holds O(hot users) longs — the same bytes the broadcast
    * they previously rode would have pinned on the driver anyway,
    * without the per-branch semi/anti joins or the cached frame the
    * engaged path used to leak.
    */
  private[graft] def coocCountsOn(i: DataFrame, hotDegree: Int = Int.MaxValue,
                                  salts: Int = DerivedSalts,
                                  sampleMinFacts: Long = DerivedSampleMinFacts): DataFrame =
    unpackCoocPk(coocCountsPkOn(i, hotDegree, salts, sampleMinFacts))

  /** (item_a, item_b, n_users) view of a PACKED-key pair frame — the
    * seam between the packed-key domain the aggregations and the
    * matrix STORE live in (r17: the store persists (pk, n_users), see
    * [[coocMergeTick]]) and the unpacked rows the registered
    * queries emit.
    */
  private[graft] def unpackCoocPk(pkCounts: DataFrame): DataFrame =
    pkCounts.select(unpackA(col("pk")).as("item_a"),
      unpackB(col("pk")).as("item_b"), col("n_users"))

  /** [[coocCountsOn]] in the packed-key domain: (pk, n_users), where
    * pk = item_a << 32 | item_b. The matrix store and the delta-merge
    * tick stay in this domain end to end — one 8-byte key for every
    * join/anti probe and a third less row width in the store
    * shuffle/write (r17, guide §2.3/§3; the unpack is a final
    * projection on the rows a caller actually surfaces).
    */
  private[graft] def coocCountsPkOn(i: DataFrame, hotDegree: Int = Int.MaxValue,
                                  salts: Int = DerivedSalts,
                                  sampleMinFacts: Long = DerivedSampleMinFacts): DataFrame = {
    val pairs =
      if (hotDegree == Int.MaxValue) selfPairs(i)
      else {
        // Degree measurement. The explicit-cut path (spec use) and
        // small corpora measure exactly; the DERIVED path on a large
        // corpus estimates the tail from a [[DegreeSampleMod]]
        // content-hash sample instead — the sampled probe runs first
        // and its own row count decides whether the corpus is big
        // enough to trust it (no separate count pass over the facts).
        val sampled =
          if (hotDegree == DerivedHotDegree)
            Some(i.filter(pmod(xxhash64(col("user_id"), col("item_id")),
                lit(DegreeSampleMod)) === 0)
              .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
              .cache())
          else None
        val estFacts = sampled.map { s =>
          val r = s.agg(sum(col("cnt"))).head()
          (if (r.isNullAt(0)) 0L else r.getLong(0)) * DegreeSampleMod
        }.getOrElse(0L)
        val useSample = sampled.isDefined && estFacts >= sampleMinFacts
        val degrees =
          if (useSample)
            // scaled estimates. Users absent from the sample are
            // absent from the frame, which only biases the quantile
            // UP (a conservative cut); [[MinSampledHits]] screens
            // the Poisson tail of ordinary users from false flags.
            sampled.get.select(col("user_id"),
              (col("cnt") * DegreeSampleMod).as("deg"), col("cnt"))
          else {
            sampled.foreach(_.unpersist())
            i.groupBy(col("user_id"))
              .agg(count(lit(1)).as("deg"), count(lit(1)).as("cnt"))
              .cache()
          }
        val cut =
          if (hotDegree == DerivedHotDegree) derivedHotCut(degrees)
          else hotDegree
        val minHits = if (useSample) MinSampledHits.toLong else 1L
        val hotRows = degrees.filter(col("deg") > cut && col("cnt") >= minHits)
          .select(col("user_id").cast("long"), col("deg").cast("long"))
          .limit(HotIdsMaxCollect + 1)
          .collect()
        val hotIds = hotRows.map(_.getLong(0)).toIndexedSeq
        if (useSample) sampled.foreach(_.unpersist()) else degrees.unpersist()
        if (hotIds.isEmpty || hotIds.length > HotIdsMaxCollect) selfPairs(i)
        else {
          // Salt count derived from the measured skew when the caller
          // leaves it: hot-pair work is CONSERVED across salt counts
          // (per-partition expected load is Σ deg²/2P for ANY s with
          // ≥ P cells), so more salts past the point where the
          // hot-cell count covers the shuffle parallelism only buy
          // b-side replication — measured at 20M facts / 8×20k-deep
          // hot users: s=8 (= P/hot) ran 192 s, s=64 ran 348 s, pure
          // replication overhead. The derived count is therefore the
          // SMALLER of the work-split need (deg²/target — don't split
          // a mildly-hot profile 64 ways to fill partitions) and the
          // parallelism-coverage need (P/hotUsers — don't leave
          // partitions idle under one mega-user), clamped to [8, 64].
          val maxHotDeg = hotRows.map(_.getLong(1)).max
          val useSalts =
            if (salts == DerivedSalts) {
              val p = i.sparkSession.sessionState.conf.numShufflePartitions.toLong
              val forWork = maxHotDeg * maxHotDeg / TargetPairsPerSaltTask + 1
              val forCoverage = (p + hotIds.length - 1) / hotIds.length
              math.min(64L, math.max(8L, math.min(forWork, forCoverage))).toInt
            } else salts
          val isHot = col("user_id").isInCollection(hotIds)
          val hot = i.filter(isHot)
          val normal = i.filter(!isHot)
          val hotA = hot.select(col("user_id"), col("item_id").as("item_a"))
            .withColumn("__salt", Skew.salt(useSalts, col("item_a")))
          val hotB = hot.select(col("user_id"), col("item_id").as("item_b"))
            .withColumn("__salt", explode(sequence(lit(0), lit(useSalts - 1))))
          val hotPairs = hotA.join(hotB, Seq("user_id", "__salt"))
            .filter(col("item_a") < col("item_b"))
            .select(packPair(col("item_a"), col("item_b")).as("pk"))
          selfPairs(normal).unionByName(hotPairs)
        }
      }
    pairs
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Hot cut from the MEASURED degree distribution: p99.9 of per-user
    * degree, clamped to ≥ [[DerivedHotFloor]]. p99.9 adapts the cut to
    * the corpus (a catalog where everyone has 500 interactions should
    * not salt everyone); the floor keeps the gate shut when even the
    * extreme tail is too small to matter (deg² ≤ 65k pairs — one
    * task's normal work). Robust against the skew it hunts: a
    * percentile, unlike mean + k·σ, does not inflate when the outliers
    * it should catch appear. One partial-agg job over the cached
    * degree frame.
    */
  private[graft] def derivedHotCut(degrees: DataFrame): Int = {
    val row = degrees.agg(expr("approx_percentile(deg, 0.999)").as("p")).head()
    val p999 = if (row.isNullAt(0)) 0L else row.getLong(0)
    math.min(math.max(DerivedHotFloor.toLong, p999), Int.MaxValue.toLong).toInt
  }

  /** Plain per-user pair enumeration (the unsalted arm). */
  private def selfPairs(i: DataFrame): DataFrame = {
    val a = i.select(col("user_id"), col("item_id").as("item_a"))
    val b = i.select(col("user_id"), col("item_id").as("item_b"))
    a.join(b, Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .select(packPair(col("item_a"), col("item_b")).as("pk"))
  }

  /** Pair-count contributions of a delta batch, keyed by packed pair:
    * pairs(Δ,Δ) ∪ pairs(Δ, touched profiles), all small-side work —
    * the fact table is scanned map-side (small side broadcast), never
    * shuffled. Shared core of [[coocDelta]] and [[coocIncrement]].
    *
    * Caching contract (repo-wide operator convention): intermediates
    * the plan consumes more than once are cached and left for the
    * CALLER to drop (`spark.catalog.clearCache()`, as Bench does per
    * query) — unpersisting before the returned lazy plan materializes
    * would defeat the cache entirely.
    */
  private def deltaPairCounts(oldFacts: DataFrame, delta: DataFrame): DataFrame =
    deltaPairCountsTracked(oldFacts, delta)._1

  /** [[deltaPairCounts]] plus the frames it cached, so streaming
    * callers can unpersist this tick's intermediates without a
    * session-wide clearCache.
    *
    * The delta-side hints are size-gated ([[Hints.broadcastIfSmall]]):
    * one measured count of the cached distinct delta decides ALL the
    * small-side hints here (every hinted frame is a subset of it), so
    * a tick that outgrows the broadcast regime degrades to shuffle
    * joins instead of failing at the broadcast limit.
    */
  private[graft] def deltaPairCountsTracked(oldFacts: DataFrame, delta: DataFrame,
      broadcastMaxRows: Long = Hints.DeltaBroadcastMaxRows): (DataFrame, Seq[DataFrame]) = {
    val old = oldFacts.select(col("user_id"), col("item_id"))
    // new facts only: a (user, item) already present adds no pair.
    // Phrased as semi-then-anti with the SMALL side hinted both times
    // (a plain left_anti would build on the fact side).
    // d0 feeds two hinted joins (the semi and the anti) — cache it or
    // an uncached delta plan is derived once per join
    val d0 = delta.select(col("user_id"), col("item_id")).distinct().cache()
    // collisions ⊆ d0 (old is (user,item)-distinct post-upsert) and
    // the touched-user set ⊆ d — one gate decision covers every hint
    val small = d0.count() <= broadcastMaxRows
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val collisions = old.join(hinted(d0), Seq("user_id", "item_id"), "left_semi")
    val d = d0.join(hinted(collisions), Seq("user_id", "item_id"), "left_anti")
      .cache()
    // existing profiles of only the users the delta touches
    val touched = old.join(hinted(d.select(col("user_id")).distinct()),
      Seq("user_id"), "left_semi")
    val dA = d.select(col("user_id"), col("item_id").as("item_a"))
    val newNew = dA.join(d.select(col("user_id"), col("item_id").as("item_b")), Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .select(packPair(col("item_a"), col("item_b")).as("pk"))
    val cross = dA.join(touched.select(col("user_id"), col("item_id").as("item_b")), Seq("user_id"))
      .select(packPair(least(col("item_a"), col("item_b")),
        greatest(col("item_a"), col("item_b"))).as("pk"))
    val pairs = newNew.unionByName(cross)
      .groupBy(col("pk"))
      .agg(count(lit(1)).as("dn"))
    (pairs, Seq(d0, d))
  }

  /** The deployment tick: CHANGED matrix rows only — (item_a, item_b,
    * n_users) for pairs whose count the delta moved, new pairs
    * included. The store applies them as a MERGE into a pk-bucketed
    * table that rewrites only the touched bucket files —
    * [[graft.streaming.BucketStore.applyTick]], driven by
    * [[graft.streaming.EventStream.startCoocMaintain]]; shipping the full
    * merged matrix instead would make every tick O(matrix), and the
    * matrix is ~C(deg,2)/deg× LARGER than the fact table — a full
    * re-emit can never beat the batch recompute (IvmTimingSpec pins
    * that this delta tick does). Cost: map-side passes over the fact
    * table and ONE over the matrix (inner join against the broadcast
    * delta pairs); zero shuffles of either. The broadcast hints are
    * size-gated ([[Hints.broadcastIfSmall]] semantics): an outsized
    * tick shuffles instead of failing at the broadcast limit —
    * DeltaBroadcastSpec pins both regimes.
    */
  def coocDelta(oldFacts: DataFrame, oldCooc: DataFrame, delta: DataFrame): DataFrame =
    coocDeltaTracked(oldFacts, oldCooc, delta)._1

  /** [[coocDelta]] plus every frame it cached — streaming callers
    * unpersist these after the tick's writes land instead of a
    * session-wide clearCache.
    */
  private[graft] def coocDeltaTracked(oldFacts: DataFrame, oldCooc: DataFrame,
      delta: DataFrame,
      broadcastMaxRows: Long = Hints.DeltaBroadcastMaxRows): (DataFrame, Seq[DataFrame]) = {
    val (pairCounts, pairCaches) = deltaPairCountsTracked(oldFacts, delta, broadcastMaxRows)
    val deltaPairs = pairCounts.cache()
    val (changes, mergeCaches) = coocChangesFromPairs(oldCooc, deltaPairs, broadcastMaxRows)
    (changes, pairCaches ++ Seq(deltaPairs) ++ mergeCaches)
  }

  /** Merge phase of [[coocDelta]]: post-merge matrix rows for EXACTLY
    * the delta pairs' keys (bumped ⊆ delta pairs via the inner join,
    * brand-new ⊆ delta pairs via the anti-join — so the changed-key
    * set ≡ the delta-pair key set). That identity is what lets a
    * bucketed store ([[graft.streaming.BucketStore]]) learn its
    * touched buckets from `deltaPairs` alone and pass a
    * PARTITION-PRUNED `oldCooc` here: the matrix rows outside the
    * delta pairs' buckets can neither bump nor suppress a change.
    * `deltaPairs` must be cached (the broadcast gate counts it).
    */
  private[graft] def coocChangesFromPairs(oldCooc: DataFrame, deltaPairs: DataFrame,
      broadcastMaxRows: Long = Hints.DeltaBroadcastMaxRows): (DataFrame, Seq[DataFrame]) = {
    val (chPk, caches) = coocChangesFromPairsPk(
      oldCooc.select(packPair(col("item_a"), col("item_b")).as("pk"), col("n_users")),
      deltaPairs, broadcastMaxRows)
    (unpackCoocPk(chPk), caches)
  }

  /** [[coocChangesFromPairs]] in the packed-key domain the matrix
    * store persists (r17): `oldCoocPk` is (pk, n_users) — the store
    * read needs no re-pack, every join/anti keys on one long, and the
    * changes feed [[graft.streaming.BucketStore.applyTick]] with
    * `keyCols = Seq("pk")` (a single-long anti probe instead of a
    * two-column composite over the carried-over matrix rows).
    */
  private[graft] def coocChangesFromPairsPk(oldCoocPk: DataFrame, deltaPairs: DataFrame,
      broadcastMaxRows: Long = Hints.DeltaBroadcastMaxRows): (DataFrame, Seq[DataFrame]) = {
    // size-gate the delta-side hints off ONE measured count (bumped ⊆
    // deltaPairs, so the same decision covers both): a tick beyond the
    // broadcast regime degrades to shuffle joins instead of failing
    val small = deltaPairs.count() <= broadcastMaxRows
    def hinted(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val bumped = oldCoocPk.join(hinted(deltaPairs), Seq("pk"))
      .select(col("pk"), (col("n_users") + col("dn")).as("n_users"))
      .cache()
    val brandNew = deltaPairs.join(hinted(bumped.select(col("pk"))), Seq("pk"), "left_anti")
      .select(col("pk"), col("dn").as("n_users"))
    (bumped.unionByName(brandNew), Seq(bumped))
  }

  /** Bucket of a pair row in the bucketed matrix store: a pure
    * function of the PACKED pair key (its high word, item_a), so the
    * tick derives touched buckets from delta pairs before any matrix
    * read. Must match the bucket used to seed the store.
    */
  private[graft] def pairBucket(pk: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    pmod(shiftrightunsigned(pk, 32), lit(n)).cast("int")

  /** One merge tick of the bucketed matrix store — the single body
    * behind [[graft.streaming.EventStream.startCoocMaintain]],
    * [[coocIncrementalStore]] and the scale bench's store soak. The
    * delta's pair counts ([[deltaPairCountsTracked]]: facts + delta
    * only) name the touched buckets before any matrix read — the
    * changed-key set ≡ the delta-pair key set — so the merge
    * ([[coocChangesFromPairsPk]]) reads only those buckets and
    * [[graft.streaming.BucketStore.applyTick]] publishes only them.
    * Every frame the tick caches is released on the way out, a failed
    * tick included — only this tick's frames: a session-wide
    * clearCache would thrash concurrent queries' caches. `nBuckets`
    * ≤ 0 recovers the layout from the store's meta.
    */
  private[graft] def coocMergeTick(spark: SparkSession, matrixDir: String,
      oldFacts: DataFrame, delta: DataFrame, batchId: Long, nBuckets: Int): Unit = {
    import graft.streaming.BucketStore
    val n = if (nBuckets > 0) nBuckets else BucketStore.seededBuckets(matrixDir)
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val (pairCounts, pairCaches) = deltaPairCountsTracked(oldFacts, delta)
      caches ++= pairCaches
      val deltaPairs = pairCounts.cache()
      caches += deltaPairs
      val touched = BucketStore.touchedBuckets(deltaPairs.select(
        pairBucket(col("pk"), n).as(BucketStore.BucketCol)))
      val (changes, mergeCaches) = coocChangesFromPairsPk(
        BucketStore.readBuckets(spark, matrixDir, touched, n), deltaPairs)
      caches ++= mergeCaches
      BucketStore.applyTick(spark, matrixDir,
        changes.withColumn(BucketStore.BucketCol, pairBucket(col("pk"), n)),
        Seq("pk"), batchId, n = n)
      ()
    } finally caches.foreach(_.unpersist())
  }

  /** Incremental maintenance of the co-occurrence matrix — merge a
    * delta batch of interactions into existing pair counts. The
    * textbook IVM identity for this additive join-aggregate:
    *
    *   cooc(old ∪ Δ) = cooc(old) + pairs(Δ, Δ) + pairs(Δ, old)
    *
    * At 100 TB this is the difference between re-shuffling the full
    * fact table on every recompute tick and touching only the users
    * the delta names (the reference recomputes from scratch on a
    * timer — prototype/trainer.py's periodic rebuild; this is the
    * operator that lets that tick scale).
    *
    * Contracts: `oldCooc` must be UNFILTERED counts (minUsers = 1 — a
    * thresholded matrix cannot be incremented, counts below the
    * threshold are lost); threshold on the MERGED output. Degree
    * capping is a profile-maintenance policy applied upstream of the
    * delta feed, not here.
    */
  def coocIncrement(oldFacts: DataFrame, oldCooc: DataFrame, delta: DataFrame): DataFrame = {
    val deltaPairs = deltaPairCounts(oldFacts, delta)
    // Full-merge output (the oracle gates the IVM identity on it) via
    // a streaming union + regroup on the packed key. Measured against
    // the broadcast-join alternative (update/insert passes over a
    // CACHED matrix): when the base is built in-query — as here, for
    // oracle self-containment — materializing the matrix first costs
    // ~2x the single shuffle; the broadcast merge only wins once the
    // base is already materialized, which is [[coocDelta]]'s regime.
    // Either way a full merge is O(matrix) by contract — a deployment
    // tick ships [[coocDelta]]'s changed rows, never this.
    oldCooc
      .select(packPair(col("item_a"), col("item_b")).as("pk"), col("n_users"))
      .unionByName(deltaPairs.select(col("pk"), col("dn").as("n_users")))
      .groupBy(col("pk"))
      .agg(sum(col("n_users")).as("n_users"))
      .select(unpackA(col("pk")).as("item_a"), unpackB(col("pk")).as("item_b"),
        col("n_users"))
  }

  /** [[coocIncrement]] exercised end-to-end (registered as
    * `q_item_cooc_inc`): split the interactions at `cutoff`, build the
    * base matrix on the old half, merge the post-cutoff half as the
    * delta. The SQL oracle is the BATCH pair count over the full
    * fact set — the query passes only if the incremental path
    * reproduces the from-scratch answer exactly.
    *
    * The default cutoff leaves a ~2.6% delta (the last two months of
    * order history) — a realistic recompute tick. The identity holds
    * for ANY cutoff (RelationalSpec pins it), but the bench number is
    * only meaningful when the delta is delta-sized; note the in-query
    * base build means the measured cost is base + tick, an upper
    * bound on the tick alone (a deployment reads the base from its
    * materialized store).
    */
  def coocIncremental(spark: SparkSession, sfDir: String, cutoff: String = "2001-06-01",
                      minUsers: Int = 3): DataFrame = {
    val base = Tables.interactions(spark, sfDir)
      .select(col("user_id"), col("item_id"), col("ts"))
      .cache()
    val old = base.filter(col("ts") < lit(cutoff).cast("date")).cache()
    val delta = base.filter(col("ts") >= lit(cutoff).cast("date"))
    coocIncrement(old, coocCountsOn(old), delta)
      .filter(col("n_users") >= minUsers)
  }

  /** [[coocDelta]] exercised end-to-end (registered as
    * `q_item_cooc_delta`): same cutoff split as [[coocIncremental]],
    * but emitting only the CHANGED matrix rows — the tick payload.
    * SQL-oracled as the set difference of the full and pre-cutoff
    * pair counts (a pair is in the delta iff its count moved), so the
    * gate checks the changed-rows contract itself.
    */
  def coocDeltaDemo(spark: SparkSession, sfDir: String,
                    cutoff: String = "2001-06-01"): DataFrame = {
    val base = Tables.interactions(spark, sfDir)
      .select(col("user_id"), col("item_id"), col("ts"))
      .cache()
    val old = base.filter(col("ts") < lit(cutoff).cast("date"))
      .select(col("user_id"), col("item_id")).cache()
    val delta = base.filter(col("ts") >= lit(cutoff).cast("date"))
      .select(col("user_id"), col("item_id"))
    coocDelta(old, coocCountsOn(old), delta)
  }

  /** Scale-derived bucket count for a co-occurrence MATRIX store over
    * `matrixRows` pair rows: ~4M rows/bucket, next power of two,
    * clamped to [64, 65536]. Deliberately ~1000× flatter than
    * [[graft.streaming.BucketStore.deriveBuckets]]'s ~4k-rows/bucket
    * row-store curve, and MEASURED rather than inherited (r16, the
    * r15 verdict's #3 — r15 left this knob explicit precisely
    * because the row-store curve had no anchor here): the 20M-fact
    * BENCH_scale sweep (196 000 312 matrix rows) read seed walls
    * 30.1 / 32.7 / 35.0 s and tick walls 59.2 / 61.1 / 67.4 s at 64 /
    * 256 / 1024 buckets — FLAT-TO-ADVERSE in bucket count, because a
    * hash-spread pair delta touches every bucket regardless (the
    * touched-bucket win needs narrow key spread, which the streaming
    * specs pin separately), so extra granularity buys only task/file
    * overhead, while matrix rows are ~25× narrower than doc rows
    * (24 B pairs vs ~KB docs: 4M rows ≈ a healthy 40-80 MB parquet
    * bucket where 4k rows would be a 100 KB file — 65536 of them at
    * this receipt's scale). The curve lands on the measured minimum
    * (196M rows → 64) and grows granularity only when buckets would
    * otherwise exceed file scale (1B → 256, 10¹² → the 65536 clamp).
    */
  private[graft] def deriveMatrixBuckets(matrixRows: Long): Int = {
    var p = 64L
    val target = (matrixRows + 3999999L) / 4000000L
    while (p < target && p < 65536L) p <<= 1
    p.toInt
  }

  /** [[coocDelta]] exercised through the bucketed matrix store the
    * streaming maintainer keeps (registered as `q_item_cooc_store`):
    * the pre-2001-06-01 matrix is seeded into a [[graft.streaming
    * .BucketStore]], the later interactions apply as ONE
    * [[coocMergeTick]] — the maintainer's own tick — and the result is
    * the post-apply store read back, thresholded at 3 users. Oracle =
    * the batch pair count over the full facts — the same IVM identity
    * `q_item_cooc_inc` gates, through the store round-trip the
    * deployment runs. The store root is unique per run
    * ([[graft.sources.Sinks.freshStoreDir]]), so concurrent runs on
    * one corpus never share a seed.
    *
    * Cost note: the measured time is seed + tick — the in-query seed
    * materializes the full unfiltered matrix (two shuffles: the pair
    * agg and the bucket layout), an upper bound a deployment pays
    * once, not per tick. And at test SFs the 2.6% fact delta's PAIR
    * spread touches every bucket (hash-spread keys), so this tick
    * rewrites the whole store once; the touched-bucket win shows when
    * the tick's key spread is narrow relative to the bucket count —
    * the streaming specs pin that regime. The oracle gate, not the
    * timing, is what this query exists for.
    */
  def coocIncrementalStore(spark: SparkSession, sfDir: String,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    import graft.streaming.BucketStore
    val storeDir = graft.sources.Sinks.freshStoreDir("cooc_store", sfDir, artifactDir)
    val base = Tables.interactions(spark, sfDir)
      .select(col("user_id"), col("item_id"), col("ts"))
      .cache()
    val old = base.filter(col("ts") < lit("2001-06-01").cast("date"))
      .select(col("user_id"), col("item_id")).cache()
    val delta = base.filter(col("ts") >= lit("2001-06-01").cast("date"))
      .select(col("user_id"), col("item_id"))
    // the layout derives from the MATRIX row count
    // ([[deriveMatrixBuckets]] — the measured curve, NOT the row-store
    // one; test SFs keep the historical 64). The matrix is cached
    // across the count and the seed write — the derive costs one read
    // of an already-materialized frame.
    //
    // r17: the store persists the PACKED pair key — (pk, n_users), pk
    // = item_a << 32 | item_b, bucketed by pairBucket (≡ the previous
    // pmod(item_a, n), so bucket placement is unchanged). Two longs
    // per row instead of three through every store read, the merge
    // tick's joins, the bucket shuffle, and the parquet write; and
    // applyTick's carry-over anti keys on ONE long.
    val seedMatrix = coocCountsPkOn(old).cache()
    val n = deriveMatrixBuckets(seedMatrix.count())
    graft.PhaseTimer.timed("q_item_cooc_store", "seed") {
      BucketStore.seed(seedMatrix, pairBucket(col("pk"), n), storeDir, n)
    }
    // r18 re-audit: overlapping the delta-pair aggregation with the
    // seed write (guide §2.6, the nearDupTickCore win) was A/B-REFUTED
    // here — interleaved mins 12.10/13.24 (serial) vs 12.87/12.99
    // (overlapped) at sf0.1: both legs are parallel shuffles that
    // saturate the cores, so there is no straggler tail to back-fill
    // and the concurrent shuffles only contend. Kept serial.
    try graft.PhaseTimer.timed("q_item_cooc_store", "tick") {
      coocMergeTick(spark, storeDir, old, delta, batchId = 0L, nBuckets = n)
    } finally Seq(base, old, seedMatrix).foreach(_.unpersist())
    unpackCoocPk(BucketStore.readAll(spark, storeDir)
      .filter(col("n_users") >= 3))
  }

  /** Item-item cosine similarity over user-rating vectors:
    * sim(i,j) = Σ_u r_ui·r_uj / (‖r_i‖·‖r_j‖), pairs formed through
    * shared users only, norms precomputed per item (broadcastable).
    */
  def itemSimilarity(spark: SparkSession, sfDir: String, minCommon: Int = 3, minSim: Double = 0.0,
                     maxDegree: Int = DefaultMaxDegree): DataFrame =
    itemSimilarityOn(cappedByUser(spark, sfDir, maxDegree), minCommon, minSim)

  private[operators] def itemSimilarityOn(i: DataFrame, minCommon: Int, minSim: Double): DataFrame = {
    val norms = i.groupBy(col("item_id"))
      .agg(sqrt(sum(col("rating") * col("rating"))).as("norm"))
    val a = i.select(col("user_id"), col("item_id").as("item_a"), col("rating").as("ra"))
    val b = i.select(col("user_id"), col("item_id").as("item_b"), col("rating").as("rb"))
    val dots = a.join(b, Seq("user_id"))
      .filter(col("item_a") < col("item_b"))
      .select(packPair(col("item_a"), col("item_b")).as("pk"), (col("ra") * col("rb")).as("p"))
      .groupBy(col("pk"))
      .agg(sum(col("p")).as("dot"), count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      .select(unpackA(col("pk")).as("item_a"), unpackB(col("pk")).as("item_b"),
        col("dot"), col("n_common"))
    dots
      .join(broadcast(norms.withColumnRenamed("item_id", "item_a").withColumnRenamed("norm", "na")), Seq("item_a"))
      .join(broadcast(norms.withColumnRenamed("item_id", "item_b").withColumnRenamed("norm", "nb")), Seq("item_b"))
      .withColumn("sim", round(col("dot") / (col("na") * col("nb")), 4))
      .filter(col("sim") >= minSim)
      .select(col("item_a"), col("item_b"), col("n_common"), col("sim"))
  }

  /** User-user cosine similarity over item-rating vectors — the third
    * member of the CF family (MF in [[graft.recommender.Als]],
    * item-item above). Same sparse-join shape with the roles swapped:
    * pairs form through shared items (degree-capped per ITEM — the
    * blowup key here is item popularity), norms broadcast per user.
    */
  def userSimilarity(spark: SparkSession, sfDir: String, minCommon: Int = 3, minSim: Double = 0.0,
                     maxDegree: Int = DefaultMaxDegree): DataFrame =
    userSimilarityOn(
      Tables.capDegree(Tables.interactions(spark, sfDir), "item_id", "user_id", maxDegree)
        .select(col("user_id"), col("item_id"), col("rating"))
        .cache(),
      minCommon, minSim)

  /** [[userSimilarity]] over an explicit item-capped
    * (user_id, item_id, rating) frame — the seam the scale bench
    * ([[graft.BenchScale]]) drives with generator facts. `i` should be
    * cached (three branches read it).
    */
  private[graft] def userSimilarityOn(i: DataFrame, minCommon: Int, minSim: Double): DataFrame = {
    val norms = i.groupBy(col("user_id"))
      .agg(sqrt(sum(col("rating") * col("rating"))).as("norm"))
    val a = i.select(col("item_id"), col("user_id").as("user_a"), col("rating").as("ra"))
    val b = i.select(col("item_id"), col("user_id").as("user_b"), col("rating").as("rb"))
    val dots = a.join(b, Seq("item_id"))
      .filter(col("user_a") < col("user_b"))
      .select(packPair(col("user_a"), col("user_b")).as("pk"), (col("ra") * col("rb")).as("p"))
      .groupBy(col("pk"))
      .agg(sum(col("p")).as("dot"), count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      .select(unpackA(col("pk")).as("user_a"), unpackB(col("pk")).as("user_b"),
        col("dot"), col("n_common"))
    dots
      .join(broadcast(norms.withColumnRenamed("user_id", "user_a").withColumnRenamed("norm", "na")), Seq("user_a"))
      .join(broadcast(norms.withColumnRenamed("user_id", "user_b").withColumnRenamed("norm", "nb")), Seq("user_b"))
      .withColumn("sim", round(col("dot") / (col("na") * col("nb")), 4))
      .filter(col("sim") >= minSim)
      .select(col("user_a"), col("user_b"), col("n_common"), col("sim"))
  }

  /** Item-CF recommendations for all users: score(u, j) =
    * Σ_{i ∈ rated(u)} sim(i, j) · r_ui over the top-similar pairs,
    * excluding already-seen items — the neighborhood twin of
    * Als.topN's anti-testset semantics.
    *
    * Similarities and scores run over the capped profiles; the
    * seen-item anti-join uses the FULL history (a user must never be
    * re-recommended an item truncation dropped from their profile).
    */
  def recommend(spark: SparkSession, sfDir: String, topN: Int = 10, minCommon: Int = 3,
                maxDegree: Int = DefaultMaxDegree): DataFrame = {
    // base feeds the capped working set AND the seen filter; capped
    // feeds norms + both pair-join sides + the scoring ratings — cache
    // both or the orders⋈lineitem+window chain re-derives per branch
    val base = Tables.interactions(spark, sfDir)
      .select(col("user_id"), col("item_id"), col("rating"), col("ts"))
      .cache()
    val capped = Tables.capDegree(base, "user_id", "item_id", maxDegree)
      .select(col("user_id"), col("item_id"), col("rating"))
      .cache()
    val scores = cfScores(capped, minCommon)
    val seen = base.select(col("user_id"), col("item_id").as("item_j"))
    // per-user top-N via the heap aggregate, not a window: the scored
    // candidate set is users × similar-neighborhoods (far larger than
    // the fact table), and a window would re-shuffle and fully sort
    // it on user_id; graft_topk's partial aggregation ships ≤ N rows
    // per user per map partition instead. Same (score desc, id asc)
    // total order as the window had — hash-identical output.
    graft.functions.TopKAgg.register(spark)
    scores.join(seen, Seq("user_id", "item_j"), "left_anti")
      .groupBy(col("user_id"))
      .agg(expr(s"graft_topk(score, item_j, $topN)").as("topk"))
      .select(col("user_id"), posexplode(col("topk")))
      .select(col("user_id"), col("col.id").as("item_id"),
        col("col.score").as("score"), (col("pos") + 1).as("rn"))
  }

  /** Item-CF weighted-sum scores per (user, candidate item) over a
    * capped working set: score(u, j) = Σ sim(i, j) · r_ui. Shared by
    * [[recommend]] and the serving blend in [[Serving]].
    */
  private[graft] def cfScores(capped: DataFrame, minCommon: Int): DataFrame = {
    // cache: the union below consumes sims twice — uncached, the whole
    // shared-user dots chain would recompute per branch
    val sims = itemSimilarityOn(capped, minCommon, minSim = 0.0).cache()
    // symmetrize: sim table stores item_a < item_b only
    val sym = sims.select(col("item_a").as("item_i"), col("item_b").as("item_j"), col("sim"))
      .unionAll(sims.select(col("item_b").as("item_i"), col("item_a").as("item_j"), col("sim")))
    val ratings = capped.select(col("user_id"), col("item_id").as("item_i"), col("rating"))
    // decimal product keeps the weighted sum exact (sim is a rounded
    // 4-decimal value, rating a half-star), and the final round happens
    // IN the decimal domain — rounding after a double cast diverges
    // between engines when the exact sum sits on a .xxxx5 boundary
    ratings.join(sym, Seq("item_i"))
      .groupBy(col("user_id"), col("item_j"))
      .agg(round(sum(col("sim").cast("decimal(12,4)") * col("rating").cast("decimal(8,2)")), 4)
        .cast("double").as("score"))
  }
}
