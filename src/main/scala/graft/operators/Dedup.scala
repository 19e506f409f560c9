package graft.operators

import graft.Tables
import graft.sources.Sinks.freshStoreDir
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` corpus — the
  * training-data-pipeline counterpart of the reference's data hygiene
  * (its prepare_dataset.py dedups users by id; a 100 TB corpus needs
  * content dedup). All signatures are computed map-side with built-in
  * higher-order functions (whole-stage codegen, no UDFs); only the
  * candidate-pair joins shuffle, and those are bucketed by
  * band/shingle so no full cross-join ever forms.
  */
object Dedup {

  private def words(c: Column): Column = split(c, "\\s+")

  /** Distinct 3-word shingles per doc via the native
    * [[graft.functions.VectorFunctions.Shingles]] expression — one
    * O(words) pass per row (see its scaladoc for why the pure-SQL
    * formulation degenerates to O(words²) under Catalyst inlining).
    */
  private def shingled(spark: SparkSession, sfDir: String): DataFrame =
    shingledOn(spark, Tables.documents(spark, sfDir))

  private def shingledOn(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    docs.select(col("doc_id"), expr("graft_shingles(text, 3)").as("shingles"))
  }

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * Output covers every group (n_copies=1 for uniques) so the result
    * is non-empty on corpora without exact dups. One shuffle on the
    * 128-bit content hash; at 100 TB this is the standard
    * hash-partitioned keep-first pass.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — IVM over the content-hash group store,
    * the corpus analog of [[ItemCF.coocIncremental]]: a 100 TB corpus
    * is not re-deduped from scratch per ingest batch. The base corpus
    * (pre-`cutoff`, standing in for yesterday's materialized group
    * store) and the delta are grouped separately and merged by
    * union+regroup — the correct regime when the base is derived
    * in-query (see the cooc scaladoc for the regime split; against a
    * MATERIALIZED store the merge becomes a broadcast update/insert of
    * the delta's groups only). The oracle is the BATCH dedup over the
    * full corpus, so the gate checks the IVM identity itself.
    *
    * The synthetic corpus has no exact duplicates, so every 10th
    * document is planted as a copy with id+10⁷ (beyond any corpus id)
    * — the copies all land in the delta while their originals sit in
    * the base, so the merge genuinely combines groups ACROSS the tick
    * boundary (min-id keeper from the base, count from both sides)
    * rather than passing disjoint groups through. Deterministic,
    * mirrored in the oracles.
    *
    * The tick boundary is FRACTIONAL — the newest 20% of corpus ids,
    * with the cut computed in-plan from the corpus count (broadcast
    * scalar, no driver collect) — so the delta stays a representative
    * slice at every scale factor instead of a fixed id absorbing the
    * whole corpus as the data grows.
    */
  private[graft] def dupPlantedDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    docs.unionByName(
      docs.filter(col("doc_id") % 10 === 3)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
  }

  /** Planted corpus + the in-plan cut column (docs, cut). */
  private def dupDocsWithCut(spark: SparkSession, sfDir: String): DataFrame = {
    val cut = Tables.documents(spark, sfDir)
      .agg(floor(count(lit(1)) * 0.8).cast("long").as("cut"))
    dupPlantedDocs(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("text_md5"))
      .crossJoin(broadcast(cut))
  }

  def exactIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = dupDocsWithCut(spark, sfDir)
    val baseG = docs.filter(col("doc_id") < col("cut"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
    val deltaG = docs.filter(col("doc_id") >= col("cut"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
    baseG.unionByName(deltaG)
      .groupBy(col("text_md5"))
      .agg(min(col("keep_doc_id")).as("keep_doc_id"),
        sum(col("n_copies")).as("n_copies"))
  }

  /** The tick payload for incremental exact dedup: the post-merge
    * state of ONLY the groups the delta touched — what actually ships
    * to the store, compute ∝ touched groups (the delta's distinct
    * hashes broadcast WHEN the tick is batch-sized — the hint is
    * gated on a measured row count via [[Hints.broadcastIfSmall]], so
    * an outsized tick degrades to a shuffle join instead of blowing
    * the broadcast limit; the corpus never shuffles untouched rows in
    * the broadcast regime). Oracle: batch groups HAVING a post-cutoff
    * member — the changed-rows contract itself is value-gated, as
    * with [[ItemCF.coocDelta]].
    */
  def exactDelta(spark: SparkSession, sfDir: String,
                 broadcastMaxRows: Long = Hints.DeltaBroadcastMaxRowsMd5): DataFrame = {
    val docs = dupDocsWithCut(spark, sfDir)
    val touched = docs.filter(col("doc_id") >= col("cut"))
      .select(col("text_md5")).distinct()
      .cache()
    docs.select(col("doc_id"), col("text_md5"))
      .join(Hints.broadcastIfSmall(touched, broadcastMaxRows), Seq("text_md5"))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** The exact-dedup store rung (registered as `dedup_exact_store`):
    * the member store [[graft.streaming.DocStream.startDedupMaintain]]
    * keeps, exercised end to end — [[seedDedupMemberStore]] on the
    * planted corpus below the cut (the first 80% of the un-planted
    * ids), the rest applied as batch 1 through the maintainer's own
    * [[dedupMemberTick]], the groups read back by [[readDedupGroups]].
    * Oracle = the batch dedup over the full planted corpus — the IVM
    * identity `dedup_exact_inc` gates, through the store the
    * deployment runs. The store root is unique per run
    * ([[graft.sources.Sinks.freshStoreDir]]), so concurrent runs on
    * one corpus never share a seed; values are path-independent.
    */
  def exactIncrementalStore(spark: SparkSession, sfDir: String,
                            artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val cut = math.floor(Tables.documents(spark, sfDir).count() * 0.8).toLong
    val dir = freshStoreDir("dedup_exact", sfDir, artifactDir)
    val docs = dupPlantedDocs(spark, sfDir)
    graft.PhaseTimer.timed("dedup_exact_store", "seed") {
      seedDedupMemberStore(spark, docs.filter(col("doc_id") < cut), dir)
    }
    graft.PhaseTimer.timed("dedup_exact_store", "tick") {
      dedupMemberTick(spark, dir, docs.filter(col("doc_id") >= cut), batchId = 1L,
        nBuckets = -1)
    }
    readDedupGroups(spark, dir)
  }

  /** Seed the streaming exact-dedup MEMBER store (r14 — the CDC
    * redesign of [[graft.streaming.DocStream.startDedupMaintain]]'s
    * store): rows are (text_md5, doc_id) MEMBERS, bucketed by the
    * hash prefix, and the group surface (keep_doc_id, n_copies) is
    * derived merge-on-read by [[readDedupGroups]]. Merged group rows
    * cannot take deletes — min(keep_doc_id) is not invertible, so a
    * dead keeper's replacement is unknowable from (md5, min, count)
    * alone; member rows make every CDC outcome exact (the next-lowest
    * live member IS the new keeper) and turn append ticks into pure
    * O(delta) generation stacks (new doc_ids ⇒ new member keys ⇒
    * zero carry-over reads — the banded row-store economics).
    */
  private[graft] def seedDedupMemberStore(spark: SparkSession, docs: DataFrame,
      storeDir: String, nBuckets: Int = -1): Unit = {
    val members = docs.select(md5(col("text")).as("text_md5"), col("doc_id")).distinct()
    // nBuckets ≤ 0 (the r15 default): layout derives from the seed
    // corpus (BucketStore.deriveBuckets); maintainers recover it from
    // the store meta
    val n = if (nBuckets > 0) nBuckets
      else graft.streaming.BucketStore.deriveBuckets(members.count())
    graft.streaming.BucketStore.seed(members,
      graft.streaming.BucketStore.md5Bucket(col("text_md5"), n),
      storeDir, n, kind = graft.streaming.BucketStore.KindMd5)
  }

  /** One tick of the member store — the single body behind
    * [[graft.streaming.DocStream.startDedupMaintain]] and
    * [[exactIncrementalStore]]. A batch of (doc_id, text) rows is
    * append-only ingest: its members stack as one O(delta) generation
    * (`applyAppendTick`; the compaction fold drops a redelivered
    * member). A batch WITH (op ∈ 'i'|'u'|'d', doc_id, text,
    * text_before) columns is CDC, merged by one `applyTick`: the new
    * texts' members are inserted, and the before-image members the new
    * text does not re-assert are removed (an unchanged-content 'u'
    * must not delete its member). `nBuckets` ≤ 0 recovers the layout
    * from the store's meta — resolved here, inside the caller's replay
    * guard, so an empty first batch against a not-yet-seeded store
    * stays a no-op rather than a meta lookup crash.
    */
  private[graft] def dedupMemberTick(spark: SparkSession, storeDir: String,
      b: DataFrame, batchId: Long, nBuckets: Int): Unit = {
    import graft.streaming.BucketStore
    val n = if (nBuckets > 0) nBuckets else BucketStore.seededBuckets(storeDir)
    def members(df: DataFrame): DataFrame = df
      .filter(col("text").isNotNull)
      .select(md5(col("text")).as("text_md5"), col("doc_id")).distinct()
      .withColumn(BucketStore.BucketCol, BucketStore.md5Bucket(col("text_md5"), n))
    if (b.columns.contains("op")) {
      val changes = members(
        b.filter(col("op").isin("i", "u")).select(col("doc_id"), col("text")))
      val removedKeys = members(b.filter(col("op").isin("u", "d"))
          .select(col("doc_id"), col("text_before").as("text")))
        .join(changes.select(col("text_md5"), col("doc_id")),
          Seq("text_md5", "doc_id"), "left_anti")
      BucketStore.applyTick(spark, storeDir, changes, Seq("text_md5", "doc_id"),
        batchId, n = n, removed = Some(removedKeys))
    } else
      BucketStore.applyAppendTick(spark, storeDir, members(b), batchId, n = n,
        onCompact = Some(_.dropDuplicates("text_md5", "doc_id")))
    ()
  }

  /** Canonical reader of the member store: the dedup DECISION surface
    * (text_md5, keep_doc_id, n_copies), derived by one aggregate over
    * the member rows — the merge-on-read half of the contract (the
    * `readLineCounts` precedent). The defensive distinct makes a
    * cross-tick redelivered member row count once.
    */
  private[graft] def readDedupGroups(spark: SparkSession, storeDir: String): DataFrame =
    graft.streaming.BucketStore.readAll(spark, storeDir)
      .dropDuplicates("text_md5", "doc_id")
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** MinHash (64 permutations via seeded xxhash64) + LSH banding
    * (16 bands × 4 rows) + exact verification: signatures map-side,
    * candidate pairs only within equal (band, band-hash) buckets, then
    * each candidate is VERIFIED with the exact Jaccard over the true
    * shingle-hash sets (array_intersect on the two docs' sets — O(n+m)
    * per pair, only for the LSH-proposed pairs, never all-pairs) and
    * thresholded on the exact value. The signature estimate rides
    * along as `est_jaccard` for calibration.
    */
  def minhashLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.5,
                 bucketCap: Int = 10000): DataFrame =
    minhashLshOn(spark, Tables.documents(spark, sfDir), threshold, bucketCap)

  private[graft] def minhashLshOn(spark: SparkSession, docs: DataFrame, threshold: Double,
                                  bucketCap: Int = 10000): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val sets = minhashSets(spark, docs).cache()
    // hot-bucket guard (same dfCap pattern as [[simhashOn]]): d exact
    // copies of one document share every band hash → d² candidates
    // from 16 buckets; over the cap the bucket is dropped (exact-copy
    // identity belongs to [[exact]] dedup, which is O(d))
    val bands = dropHotBuckets(minhashBands(sets), bucketCap)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyMinhashPairs(cand, sets, threshold)
  }

  /** One cached table carries BOTH the shingle-hash set (verify join)
    * and its signature (estimate) — one join per pair side, single
    * cache residency. In the incremental regime this is the schema of
    * the materialized signature store.
    */
  private[graft] def minhashSets(spark: SparkSession, docs: DataFrame): DataFrame =
    shingledOn(spark, docs)
      .select(col("doc_id"),
        expr("graft_hash_arr(shingles)").as("hs"))
      .withColumn("sig", expr("graft_minhash64(hs)"))

  /** 16 bands × 4 rows banding of the signatures — the band index. */
  private[graft] def minhashBands(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(expr(
      "transform(sequence(0, 15), b -> " +
      "  named_struct('band', b, 'key', xxhash64(array_join(slice(sig, b * 4 + 1, 4), ','))))"
    )).as("e")).select(col("doc_id"), col("e.band"), col("e.key"))

  /** Exact-Jaccard verification of LSH-proposed pairs against the true
    * shingle-hash sets (array_intersect per pair, candidates only —
    * never all-pairs); signature estimate rides along as est_jaccard.
    */
  private[graft] def verifyMinhashPairs(cand: DataFrame, sets: DataFrame,
                                 threshold: Double): DataFrame = {
    val verified = cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("est_jaccard", round(
        expr("graft_sig_agree(sig_a, sig_b)") / 64.0, 4))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      // two sub-3-word docs have EMPTY shingle sets yet identical
      // all-sentinel signatures, so they collide in every band and
      // reach the division with union size 0 — define their jaccard
      // as 0 (ANSI mode would otherwise abort on 0/0); empty-content
      // identity belongs to exact dedup, not similarity
      .withColumn("uni", size(col("hs_a")) + size(col("hs_b")) - col("inter"))
      .withColumn("jaccard",
        when(col("uni") > 0, round(col("inter") / col("uni"), 4)).otherwise(lit(0.0)))
    verified.filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"), col("jaccard"))
  }

  /** The ingest-tick regime of [[minhashLsh]] (registered as both
    * `dedup_minhash_inc` and `dedup_minhash_store`): near-dup detection
    * does not re-run LSH over the landed corpus per ingest batch; the
    * tick computes signatures for the DELTA docs only and probes the
    * stored band index with them, so base×base pairs are never
    * regenerated. One [[bandedLadder]] tick over the dup-planted
    * corpus — the planted copies guarantee cross-tick pairs at every
    * SF (each copy pairs its base original at jaccard 1.0).
    *
    * Output: verified near-dup pairs touching ≥1 delta doc.
    * DedupSimilaritySpec pins base-pairs ∪ tick ≡ batch over the
    * planted corpus, that the tick emits no base-only pair and no
    * duplicate row, and that the post-tick row store holds the full
    * corpus.
    */
  def minhashLshIncremental(spark: SparkSession, sfDir: String,
      artifactDir: String = "target/graft-artifacts"): DataFrame =
    bandedLadder(spark, "minhash_ladder", sfDir, artifactDir,
      minhashDetector(spark, 0.5), dupPlantedDocs(spark, sfDir),
      Tables.documents(spark, sfDir).count())

  /** The banded near-dup ladder rung, shared by the MinHash, SimHash
    * and embed-LSH families: seed the row + band BucketStores
    * ([[seedNearDupStores]]) from the corpus slice below the cut (the
    * first 80% of the un-planted corpus's ids), apply the slice at or
    * above it as batch 1 through the same [[nearDupStoreTick]] the
    * CDC rung and every maintainer run, and return the tick's pair
    * log ([[readPairLog]]). The store root is unique per run
    * ([[graft.sources.Sinks.freshStoreDir]]), so concurrent runs on
    * one corpus never share a seed; values are path-independent.
    */
  private def bandedLadder(spark: SparkSession, tag: String, sfDir: String,
      artifactDir: String, det: NearDupDetector, corpus: DataFrame,
      nUnplanted: Long): DataFrame = {
    val cut = math.floor(nUnplanted * 0.8).toLong
    val root = freshStoreDir(tag, sfDir, artifactDir)
    val input = corpus.cache()
    try {
      seedNearDupStores(spark, input.filter(col(det.idCol) < cut), det,
        s"$root/rows", s"$root/band")
      nearDupStoreTick(spark, det, s"$root/rows", s"$root/band", s"$root/pairs",
        input.filter(col(det.idCol) >= cut), batchId = 1L, nBuckets = -1,
        bucketCap = 10000)
    } finally input.unpersist()
    readPairLog(spark, s"$root/pairs")
  }

  /** Registered `dedup_minhash_cdc` — the CDC rung of the banded-store
    * family ([[nearDupStoreCdcTick]]) exercised end-to-end on the
    * planted corpus: seed BOTH BucketStores from the full planted
    * corpus, apply ONE data-derived CDC batch — every fifth planted
    * copy DELETED (its pair evidence must stop re-appearing), and
    * every `id % 50 == 7` live doc RE-INGESTED as an exact copy of its
    * predecessor (its old signature must leave the index, and the new
    * one must pair with the predecessor) — then return the tick's
    * verified pairs from the pair log. Rows-only (LSH banding is not
    * SQL-expressible); NearDupStoreSpec pins the store parity that
    * matters: post-CDC row + band stores value-equal a fresh seed of
    * the MUTATED corpus, same-batch deletes never pair, and the
    * band-store-first crash window replays exactly.
    */
  def minhashCdcStore(spark: SparkSession, sfDir: String,
      bucketCap: Int = 10000,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val det = minhashDetector(spark, 0.5)
    val root = freshStoreDir("minhash_cdc", sfDir, artifactDir)
    val docs = dupPlantedDocs(spark, sfDir).select(col("doc_id"), col("text")).cache()
    graft.PhaseTimer.timed("dedup_minhash_cdc", "seed") {
      // derived layout (r15): the registered demo seeds at the DEFAULT
      // knobs a user gets — deriveBuckets at test SF is the historical
      // 64, and the tick below recovers the count from the store meta
      seedNearDupStores(spark, docs, det, s"$root/sig", s"$root/band")
    }
    val dels = docs.filter(col("doc_id") >= 10000000L && col("doc_id") % 5 === 0)
      .select(lit("d").as("op"), col("doc_id"), lit(null).cast("string").as("text"))
    val pred = docs.select((col("doc_id") + 1).as("doc_id"),
      col("text").as("new_text"))
    val ups = docs.filter(col("doc_id") < 10000000L && col("doc_id") % 50 === 7)
      .join(pred, Seq("doc_id"))
      .select(lit("u").as("op"), col("doc_id"), col("new_text").as("text"))
    graft.PhaseTimer.timed("dedup_minhash_cdc", "tick") {
      nearDupStoreCdcTick(spark, det, s"$root/sig", s"$root/band",
        s"$root/pairs", dels.unionByName(ups), batchId = 1L,
        nBuckets = -1, bucketCap = bucketCap)
    }
    docs.unpersist()
    readPairLog(spark, s"$root/pairs")
  }

  /** One near-dup detector, as the three pieces the banded-LSH store
    * machinery needs and nothing else: `rows` maps an ingest batch to
    * the keyed row-store rows (signatures / fingerprints / vectors),
    * `bands` blocks those rows into the (id, band, key) index, and
    * `verify` re-checks candidate pairs against the true rows with the
    * detector's exact measure (Jaccard / Hamming / cosine), threshold
    * already bound. Everything else — touched-bucket derivation, hot
    * lists, generation publish, replay — is detector-independent, so the
    * continuous maintainer ([[graft.streaming.DocStream
    * .startNearDupMaintain]]) is written once and plugged three times.
    */
  /** `minShared` (default 1 — the classic any-band-collision rule):
    * candidate pairs must share at least this many DISTINCT
    * (band, key) entries. Detectors whose single band key carries
    * little entropy relative to corpus size (video's 4-cell window
    * keys) set it to 2, cutting random-collision candidates
    * quadratically; tick ≡ batch is preserved because a shared key
    * is by definition a delta-side key, so the tick's pruned store
    * read sees every shared entry the batch join would.
    */
  private[graft] final case class NearDupDetector(
      name: String,
      idCol: String,
      inputCols: Seq[String],
      rows: DataFrame => DataFrame,
      bands: DataFrame => DataFrame,
      verify: (DataFrame, DataFrame) => DataFrame,
      minShared: Int = 1) {
    val aCol: String = idCol.stripSuffix("_id") + "_a"
    val bCol: String = idCol.stripSuffix("_id") + "_b"
  }

  private[graft] def minhashDetector(spark: SparkSession, threshold: Double): NearDupDetector =
    NearDupDetector("minhash", "doc_id", Seq("doc_id", "text"),
      docs => minhashSets(spark, docs),
      minhashBands(_),
      (cand, sets) => verifyMinhashPairs(cand, sets, threshold))

  private[graft] def simhashDetector(maxHamming: Int): NearDupDetector =
    NearDupDetector("simhash", "doc_id", Seq("doc_id", "text"),
      simhashFingerprints(_),
      simhashBands(_),
      (cand, fp) => cand
        .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), Seq("doc_a"))
        .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), Seq("doc_b"))
        .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming")))

  private[graft] def embedLshDetector(threshold: Double): NearDupDetector =
    NearDupDetector("embed_lsh", "vec_id", Seq("vec_id", "embedding"),
      hyperSets(_),
      hyperBands(_),
      (cand, e) => verifyCosPairs(cand, e, threshold))

  /** [[embedLshDetector]] with the WIDE signature
    * ([[embedLshWideOn]]'s geometry) — plugs the 2M+-vector banding
    * into the same seed/tick/maintainer machinery unchanged: the
    * stored row schema gains `sigw` (array of words), band keys stay
    * longs, everything downstream is detector-generic.
    */
  private[graft] def embedLshWideDetector(threshold: Double, nWords: Int = 2,
                                          bandBits: Int = 32): NearDupDetector =
    NearDupDetector("embed_lsh_wide", "vec_id", Seq("vec_id", "embedding"),
      hyperSetsWide(_, nWords),
      hyperBandsWide(_, nWords, bandBits),
      (cand, e) => verifyCosPairs(cand, e, threshold))

  /** Seed the CONTINUOUSLY MAINTAINED near-dup stores
    * ([[graft.streaming.DocStream.startNearDupMaintain]]): the base
    * corpus's row store bucketed by `pmod(id, n)` and its band index
    * bucketed by `pmod(key, n)` — the band-hash bucket is what lets a
    * tick name the store buckets its delta can collide with BEFORE any
    * store read. Detector-independent: works for MinHash signatures,
    * SimHash fingerprints, and hyperplane-signed vectors alike.
    */
  private[graft] def seedNearDupStores(spark: SparkSession, input: DataFrame,
      det: NearDupDetector, rowsDir: String, bandDir: String,
      nBuckets: Int = -1): Unit = {
    import graft.streaming.BucketStore
    graft.functions.VectorFunctions.register(spark)
    val rows = det.rows(input).cache()
    // nBuckets ≤ 0 (the r15 default): derive the layout from the seed
    // corpus (BucketStore.deriveBuckets — ~4k rows/bucket; test SFs
    // keep the historical 64). The derivation freezes into the store
    // meta; ticks/maintainers recover it via seededBuckets.
    val n = if (nBuckets > 0) nBuckets else BucketStore.deriveBuckets(rows.count())
    BucketStore.seed(rows,
      BucketStore.longBucket(col(det.idCol), n), rowsDir, n)
    BucketStore.seed(det.bands(rows),
      BucketStore.longBucket(col("key"), n), bandDir, n)
    rows.unpersist()
    ()
  }

  private[graft] def seedMinhashStores(spark: SparkSession, docs: DataFrame,
      sigDir: String, bandDir: String, nBuckets: Int): Unit =
    seedNearDupStores(spark, docs, minhashDetector(spark, 0.5), sigDir, bandDir, nBuckets)

  /** One near-dup tick against BucketStore'd row + band stores — the
    * tick every banded rung runs (the registered ladder, the CDC rung,
    * the continuous maintainers): atomic generation publishing and a
    * replay guard, so a crash can never leave the two stores
    * inconsistent as a pair.
    * Detector-generic ([[NearDupDetector]]): the same machinery runs
    * MinHash, SimHash, and embedding-LSH maintenance —
    *
    *  1. delta rows + bands computed map-side (batch only);
    *  2. the delta's band hashes name the band-store buckets it can
    *     collide with — the probe reads ONLY those buckets;
    *  3. hot buckets frozen from the STORED index slice (deployment
    *     semantics, [[hotBucketList]]), candidates = pruned delta
    *     bands × colliding store∪delta bands;
    *  4. exact verification (Jaccard / Hamming / cosine) reads ONLY
    *     the row-store buckets the candidate ids live in;
    *     `dropDuplicates(id)` makes a replayed half-applied tick (row
    *     store already updated, band store not) verify identically;
    *  5. the tick's pairs land at `pairsDir/batch=<id>` with
    *     overwrite BEFORE either store mutates — replays rewrite the
    *     same content, so the pair log is idempotent;
    *  6. each store takes the delta through
    *     [[graft.streaming.BucketStore.applyAppendTick]] under the
    *     SAME batch id — the delta stacks as ONE generation with zero
    *     carry-over reads (valid because ingest is append-only: new
    *     ids ⇒ disjoint keys ⇒ reader union IS the merge), so tick
    *     WRITE I/O is ∝ the delta even though its band keys touch
    *     ~every bucket; generation write, manifest, then the marker
    *     as the atomic publish; a crash between the two applies heals
    *     on replay (the applied store skips, the other catches up).
    *
    * Ingest is append-only (a revised document must arrive as a new
    * id): the band store is keyed by (id, band), and a re-keyed text
    * would strand its old band rows in other buckets — the same
    * key-purity contract every BucketStore rides on. Base×base pairs
    * are never regenerated; per-tick I/O is bounded by
    * min(delta band keys, n) band buckets + the candidates' row
    * buckets, never the store size.
    */
  private[graft] def nearDupStoreTick(spark: SparkSession, det: NearDupDetector,
      rowsDir: String, bandDir: String, pairsDir: String, batchRows: DataFrame,
      batchId: Long, nBuckets: Int, bucketCap: Int): Unit =
    nearDupTickCore(spark, det, rowsDir, bandDir, pairsDir, batchRows, None,
      batchId, nBuckets, bucketCap)

  /** CDC tick for the banded stores — the delete/re-ingest seam the
    * BM25 and IVF indexes already have (`cdcBm25Tick`,
    * `ivfAppendTick`'s tombstones): `cdc` carries an `op` column
    * ('i'/'u'/'d') plus the detector's input columns ('d' rows may
    * leave the payload null — only the id is needed). The before-image
    * comes from the ROW STORE ITSELF: unlike BM25, whose postings are
    * keyed by content and need `text_before` in the feed, the row
    * store is keyed by id, so a delete's stored signature — and hence
    * every (id, band, key) index entry to tombstone — is one PRUNED
    * bucket read away. An upsert is delete(stored image) +
    * insert(new payload) under the same id in one tick. New content is
    * probed against the post-delete view (tombstoned ids excluded from
    * both candidate and verify sides), so a same-batch delete can
    * never pair. Both stores advance through `applyTick` WITH
    * `removed` (rows must come OUT of buckets — the merge price, paid
    * only on CDC batches; pure-insert ticks keep the O(delta) append
    * path). The pair log is an EVENT log: pairs a dead id earned while
    * live stay recorded; keeper/cluster consumers join against live
    * ids (documented — the same contract as the CDC ratings store's
    * downstream).
    */
  private[graft] def nearDupStoreCdcTick(spark: SparkSession, det: NearDupDetector,
      rowsDir: String, bandDir: String, pairsDir: String, cdc: DataFrame,
      batchId: Long, nBuckets: Int, bucketCap: Int): Unit = {
    val ins = cdc.filter(col("op").isin("i", "u"))
      .select(det.inputCols.map(col): _*)
    val gone = cdc.filter(col("op").isin("d", "u"))
      .select(col(det.idCol)).distinct()
    nearDupTickCore(spark, det, rowsDir, bandDir, pairsDir, ins, Some(gone),
      batchId, nBuckets, bucketCap)
  }

  private def nearDupTickCore(spark: SparkSession, det: NearDupDetector,
      rowsDir: String, bandDir: String, pairsDir: String, batchRows: DataFrame,
      tombstones: Option[DataFrame], batchId: Long, nBuckets0: Int,
      bucketCap: Int): Unit = {
    import graft.streaming.BucketStore
    graft.functions.VectorFunctions.register(spark)
    // nBuckets ≤ 0: recover the layout from the store's own meta
    // (seededBuckets — the artifact-is-the-contract rule; an explicit
    // count still asserts against the meta on every read/apply)
    val nBuckets = if (nBuckets0 > 0) nBuckets0
      else BucketStore.seededBuckets(rowsDir)
    val id = det.idCol
    // every frame the tick caches, released only after the scope below
    // has joined every overlapped leg (which read them) — on the
    // failure path too
    val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def held(df: DataFrame): DataFrame = caches.synchronized { caches += df; df }
    def cached(df: DataFrame): DataFrame = held(df.cache())
    // the scope joins every leg it started before the tick returns or
    // throws: no store writer outlives the tick, and a leg's failure
    // rides along as suppressed on the inline failure that ended it
    try Overlap.scoped { legs =>
    val deltaRows = cached(det.rows(batchRows))
    val deltaBands = cached(det.bands(deltaRows))
    // tombstoned ids' stored band keys, materialized BEFORE any store
    // mutates (the lazy-read gc hazard): pruned row-store read by id,
    // band keys re-derived from the stored signatures
    val gone = tombstones.map(cached)
    // r18, guide §2.6: the tombstoned ids' stored band keys are consumed
    // only by the band store's applyTick at the very END of the tick —
    // every candidate/verify job in between is independent of them, so
    // the pruned row-store read + band re-derive runs on a helper
    // thread and back-fills executors the pipeline's stage tails leave
    // idle. The materialize-BEFORE-any-store-mutates contract (the
    // lazy-read gc hazard) is unchanged: the thread is awaited — its
    // cache complete — before the first applyTick below. Worst case the
    // two threads race `gone`'s cache fill and one recomputes a
    // tombstone-list-sized distinct; both reads see the same published
    // store snapshot (nothing mutates until the await).
    val goneBandKeysStarted = gone.map { g =>
      legs.start(s"gone-band-keys-$batchId") {
        val gBuckets = BucketStore.touchedBuckets(g.select(
          BucketStore.longBucket(col(id), nBuckets).as(BucketStore.BucketCol)))
        val k = cached(det.bands(
            BucketStore.readBuckets(spark, rowsDir, gBuckets, nBuckets)
              .join(g, Seq(id), "left_semi"))
          .select(col(id), col("band"), col("key")).distinct())
        k.count()
        k
      }
    }
    val probeBuckets = BucketStore.touchedBuckets(deltaBands.select(
      BucketStore.longBucket(col("key"), nBuckets).as(BucketStore.BucketCol)))
    val storeBands0 = BucketStore.readBuckets(spark, bandDir, probeBuckets, nBuckets)
    // CDC: the probe sees the POST-delete view — a same-batch delete
    // must never generate or verify a candidate
    val storeBands = gone.map(g => storeBands0.join(g, Seq(id), "left_anti"))
      .getOrElse(storeBands0)
    // hotBucketList caches its list; the tick releases it with the rest
    val hot = held(hotBucketList(storeBands, bucketCap))
    val dPruned = deltaBands.join(broadcast(hot), Seq("band", "key"), "left_anti")
    val probe = storeBands.unionByName(deltaBands)
      .join(broadcast(hot), Seq("band", "key"), "left_anti")
    // minShared > 1: per-doc-distinct band entries shrink the join,
    // and the gate counts DEDUPED (pair, band, key) combos — a
    // delta↔delta pair joins in both orientations (the a-side is
    // delta, the b-side delta ∪ store) and the combo distinct
    // collapses them, so each shared entry counts exactly once,
    // matching the batch rule. Tick inputs are delta-sized, so the
    // combo distinct is micro-batch-bounded (the 100k-clip BATCH path
    // in videoDupsOn uses an a<b join + map-side-collapsing plain
    // count instead).
    val (aSide, bSide) =
      if (det.minShared > 1)
        (dPruned.select(col(id), col("band"), col("key")).distinct(),
         probe.select(col(id), col("band"), col("key")).distinct())
      else (dPruned, probe)
    val joined = aSide.as("a").join(bSide.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$id") =!= col(s"b.$id"))
    val cand = cached(if (det.minShared > 1)
        joined
          .select(least(col(s"a.$id"), col(s"b.$id")).as(det.aCol),
            greatest(col(s"a.$id"), col(s"b.$id")).as(det.bCol),
            col("a.band"), col("a.key"))
          .distinct()
          .groupBy(col(det.aCol), col(det.bCol))
          .agg(count(lit(1)).as("_nshared"))
          .filter(col("_nshared") >= det.minShared)
          .select(col(det.aCol), col(det.bCol))
      else joined
        .select(least(col(s"a.$id"), col(s"b.$id")).as(det.aCol),
          greatest(col(s"a.$id"), col(s"b.$id")).as(det.bCol))
        .distinct())
    val candBuckets = BucketStore.touchedBuckets(
      cand.select(explode(array(col(det.aCol), col(det.bCol))).as(id))
        .select(BucketStore.longBucket(col(id), nBuckets).as(BucketStore.BucketCol)))
    val storeRows0 = BucketStore.readBuckets(spark, rowsDir, candBuckets, nBuckets)
    val storeRows = gone.map(g => storeRows0.join(g, Seq(id), "left_anti"))
      .getOrElse(storeRows0)
    val out = det.verify(cand,
      storeRows.unionByName(deltaRows).dropDuplicates(id))
    // publish the pair log BEFORE the stores mutate: the verify plan
    // reads the store dirs lazily, and a crash after the stores
    // advanced must not lose the batch's pairs. The write IS the
    // materialization — r17 additionally cached + counted first, a
    // second scheduled job for the same single consumer.
    out.write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
    // join the overlapped tombstone-band-keys leg: from here on the
    // stores mutate, so its pruned reads must be complete (they are —
    // await() returns only after the k.count() materialized the cache)
    val goneBandKeys = goneBandKeysStarted.map(_.await())
    // r18 (guide §2.6): the two store applies work on DISJOINT dirs and
    // inputs already materialized above (delta caches, goneBandKeys),
    // so their merge compute and generation writes overlap on a helper
    // thread — what the crash story needs is only the PUBLISH order,
    // and that is preserved exactly: the inline tick's `beforePublish`
    // awaits the threaded tick's COMPLETE apply (marker included)
    // before fence-check + manifest + marker. A crash anywhere leaves
    // the same states as the serial code: the last-published store
    // (the replay guard's commitDir) never leads the first, an orphan
    // generation from an aborted inline tick is swept by recover().
    // An inline apply that throws before its beforePublish (fence
    // abort, bucket-count mismatch, failed merge job) still waits for
    // the threaded apply at the scope's exit, so a restart's recover()
    // never races a live writer. A replayed inline tick that skips on
    // its marker never reaches beforePublish either; the scope joins
    // that leg too, before the caches unpersist under it.
    // Chaos re-run: NearDupStoreSpec + ChaosSoakSpec + CdcStreamSpec
    // green over this shape (interleaved CDC, restarts, orphan debris).
    gone match {
      case None =>
        // append-only ingest (new ids by contract) → both stores stack
        // the delta as one generation with ZERO carry-over reads. This
        // matters most for the BAND store: a text delta's band keys are
        // hash-distributed across ~every bucket, so the old merge tick
        // re-read and rewrote ~the whole band store per tick (the BM25
        // postings problem); the append tick's write I/O is ∝ delta
        // bands, and the maxLiveGenerations fold amortizes compaction.
        // Publish order rows→band (the maintainer's replay guard keys
        // on the band store, the LAST to move).
        val rowsStarted = legs.start(s"rows-append-$batchId") {
          BucketStore.applyAppendTick(spark, rowsDir,
            deltaRows.withColumn(BucketStore.BucketCol,
              BucketStore.longBucket(col(id), nBuckets)),
            batchId, n = nBuckets)
        }
        BucketStore.applyAppendTick(spark, bandDir,
          deltaBands.withColumn(BucketStore.BucketCol,
            BucketStore.longBucket(col("key"), nBuckets)),
          batchId, n = nBuckets,
          beforePublish = () => { rowsStarted.await(); () })
      case Some(g) =>
        // CDC: rows must come OUT of buckets → merge ticks with
        // tombstones (upserted ids are in BOTH removed and appended;
        // applyTick drops by key first, so the new image wins).
        // PUBLISH ORDER MATTERS for crash consistency: the band
        // store's removal keys derive from the ROW store's
        // before-images, so the band store publishes FIRST — a crash
        // between the two replays with the row store still pre-tick
        // (band keys re-derivable, band apply skips on its marker);
        // the inverse order would strand tombstoned band entries
        // forever (the before-image is gone once the row store
        // advances).
        val bandStarted = legs.start(s"band-tick-$batchId") {
          BucketStore.applyTick(spark, bandDir,
            deltaBands.withColumn(BucketStore.BucketCol,
              BucketStore.longBucket(col("key"), nBuckets)),
            Seq(id, "band"), batchId, n = nBuckets,
            removed = goneBandKeys.map(_.select(col(id), col("band"),
              BucketStore.longBucket(col("key"), nBuckets).as(BucketStore.BucketCol))))
        }
        BucketStore.applyTick(spark, rowsDir,
          deltaRows.withColumn(BucketStore.BucketCol,
            BucketStore.longBucket(col(id), nBuckets)),
          Seq(id), batchId, n = nBuckets,
          removed = Some(g.select(col(id),
            BucketStore.longBucket(col(id), nBuckets).as(BucketStore.BucketCol))),
          beforePublish = () => { bandStarted.await(); () })
    }
    ()
    } finally caches.synchronized(caches.foreach(_.unpersist()))
  }

  /** Planted-recall drift probe for the six banded near-dup store
    * families (r12 verdict task #8 — IVF, semantic, and DSIR have
    * staleness probes; the banded detector stores had none, yet their
    * hot-bucket freeze ([[hotBucketList]]) can silently go stale as
    * the corpus grows: once a (band, key) bucket crosses `bucketCap`
    * it is excluded from candidate generation FOREVER, and a genuine
    * near-dup whose shared keys are all hot is missed with no
    * signal).
    *
    * The probe is detector-GENERIC by planting EXACT COPIES: a copy
    * has the identical signature, hence identical band keys, for
    * every family (MinHash, SimHash, embed-LSH ×2, image, audio,
    * video alike) — so its recall through the candidate + verify path
    * is 100% BY CONSTRUCTION unless something in the path is
    * degraded. Every miss therefore isolates real staleness (in
    * practice: the sampled row's band keys have all gone hot). The
    * plants live under reserved NEGATIVE ids (`-id - 1` — corpus ids
    * are non-negative) and are never written to any store: the probe
    * runs the same pruned band read, hot-list anti-join, minShared
    * gate, and exact verification a real tick runs, then measures
    * which plants paired with their sources.
    *
    * Cost ∝ `sample`: one pruned band-store read (the plants' keys'
    * buckets), one pruned row-store read (candidate ids), tiny joins.
    */
  case class BandedProbeResult(planted: Long, found: Long,
                               recall: Double, tripped: Boolean) {
    override def toString: String =
      f"bandedProbe[planted=$planted found=$found recall=$recall%.3f tripped=$tripped]"
  }

  /** Probe policy for [[graft.streaming.DocStream]]'s banded
    * maintainers: every `everyNTicks` ticks, `sample` hash-selected
    * rows of THAT tick are planted and their recall measured; below
    * `floor` the result is `tripped` and `onDrift` fires — the
    * operator signal to raise `bucketCap`, re-band, or rebuild
    * (exact-copy recall has no approximation slack, so the default
    * floor is 1.0).
    */
  case class BandedProbeConfig(sample: Int = 8, floor: Double = 1.0,
      everyNTicks: Int = 1,
      onDrift: (Long, BandedProbeResult) => Unit = (_, _) => ())

  private[graft] def bandedDriftProbe(spark: SparkSession, det: NearDupDetector,
      rowsDir: String, bandDir: String, sampleRows: DataFrame,
      nBuckets: Int, bucketCap: Int, floor: Double): BandedProbeResult = {
    import graft.streaming.BucketStore
    graft.functions.VectorFunctions.register(spark)
    val id = det.idCol
    // exact copies under the reserved negative id range
    val plants = sampleRows.withColumn(id, -col(id) - lit(1)).cache()
    val nPlanted = plants.count()
    if (nPlanted == 0)
      return BandedProbeResult(0, 0, 1.0, tripped = false)
    val pRows = det.rows(plants).cache()
    val pBands = det.bands(pRows)
    val probeBuckets = BucketStore.touchedBuckets(pBands.select(
      BucketStore.longBucket(col("key"), nBuckets).as(BucketStore.BucketCol)))
    val storeBands = BucketStore.readBuckets(spark, bandDir, probeBuckets, nBuckets)
    val hot = hotBucketList(storeBands, bucketCap)
    // the REAL candidate path: plant bands × stored bands, hot list
    // applied to both sides, minShared gate, exact verification
    val aSide = pBands.join(broadcast(hot), Seq("band", "key"), "left_anti")
      .select(col(id), col("band"), col("key")).distinct()
    val bSide = storeBands.join(broadcast(hot), Seq("band", "key"), "left_anti")
      .select(col(id), col("band"), col("key")).distinct()
    val cand = aSide.as("a").join(bSide.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col(s"a.$id") =!= col(s"b.$id"))
      .select(least(col(s"a.$id"), col(s"b.$id")).as(det.aCol),
        greatest(col(s"a.$id"), col(s"b.$id")).as(det.bCol),
        col("a.band"), col("a.key"))
      .distinct()
      .groupBy(col(det.aCol), col(det.bCol))
      .agg(count(lit(1)).as("_nshared"))
      .filter(col("_nshared") >= det.minShared)
      .select(col(det.aCol), col(det.bCol))
      .cache()
    val candBuckets = BucketStore.touchedBuckets(
      cand.select(explode(array(col(det.aCol), col(det.bCol))).as(id))
        .filter(col(id) >= 0)
        .select(BucketStore.longBucket(col(id), nBuckets).as(BucketStore.BucketCol)))
    val storeRows = BucketStore.readBuckets(spark, rowsDir, candBuckets, nBuckets)
    val verified = det.verify(cand, storeRows.unionByName(pRows).dropDuplicates(id))
    // a plant found ⇔ a verified pair joins it (plant id, negative =
    // the a-side of the canonical (min, max) projection) to its
    // source (-plant - 1)
    val found = verified
      .filter(col(det.aCol) < 0 && col(det.bCol) === -col(det.aCol) - lit(1))
      .select(col(det.aCol)).distinct().count()
    Seq(plants, pRows, hot, cand).foreach(_.unpersist())
    val recall = found.toDouble / nPlanted
    BandedProbeResult(nPlanted, found, recall, tripped = recall < floor)
  }

  /** Canonical reader of a maintainer's pair log: `batch=<id>` dirs
    * plus `compact-<id>` fold dirs that finished writing (`_SUCCESS`
    * present — a fold that crashed mid-write is skipped; its rows are
    * all still in the dirs it was folding). `distinct` makes the read
    * exact across every crash window: replays rewrite identical
    * batch content, and a completed fold coexisting with its
    * not-yet-deleted inputs duplicates rows exactly.
    */
  private[graft] def readPairLog(spark: SparkSession, pairsDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(pairsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter { d =>
          val n = d.getName
          n.startsWith("batch=") ||
            (n.startsWith("compact-") &&
              fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
        }
    require(dirs.nonEmpty, s"no pair log under $pairsDir")
    spark.read.parquet(dirs.map(_.toString): _*).distinct()
  }

  /** Fold the pair log's per-batch dirs into one `compact-<upTo>`
    * dir — the maintainer's pair log grows one directory per tick
    * forever otherwise. Only batches the replay guard will never
    * rewrite may fold: pass `upTo` = the band store's
    * [[graft.streaming.BucketStore.appliedBatchId]] (a replayed
    * batch ≤ the marker skips its tick entirely, pair write
    * included). Roll-forward and rename-free: write the fold (with
    * `_SUCCESS`), then delete its inputs; a crash between the two
    * leaves duplicate rows that [[readPairLog]]'s `distinct`
    * collapses, and the next fold sweeps the leftovers. Incomplete
    * folds from earlier crashes are deleted up front.
    *
    * CDC-aware retention (r14, the r13 verdict's #3): the log is an
    * EVENT log, so pairs a tombstoned id earned while live stay
    * recorded forever and the log grows with HISTORY, not the live
    * corpus. Passing `live` (the row store's current id set — one
    * column, named by `idCols`' convention below) makes the fold
    * drop every pair with a dead endpoint: fold output ≡ the
    * live-filtered history, so the log re-bounds to the live corpus
    * at each fold. `idCols` names the pair frame's two id columns
    * (the detector's `aCol`/`bCol`). Point-in-time by design: a fold
    * filters against live-at-fold-time, and consumers keep joining
    * against live ids for pairs earned since — the same contract as
    * before, now with bounded history. Crash windows are unchanged
    * (a completed fold resumes its deletes; its content is already
    * filtered).
    */
  private[graft] def compactPairLog(spark: SparkSession, pairsDir: String,
                                    upTo: Long, live: Option[DataFrame] = None,
                                    idCols: Seq[String] = Seq.empty): Unit = {
    val p = new org.apache.hadoop.fs.Path(pairsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val all = fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
    // roll-forward hygiene: a fold dir without _SUCCESS is a crashed
    // write — its inputs are all still present; redo from scratch
    all.filter(d => d.getName.startsWith("compact-") &&
        !fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
      .foreach(fs.delete(_, true))
    val foldable = fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter { d =>
        val n = d.getName
        (n.startsWith("batch=") &&
          scala.util.Try(n.stripPrefix("batch=").toLong).toOption.exists(_ <= upTo)) ||
        (n.startsWith("compact-") &&
          scala.util.Try(n.stripPrefix("compact-").toLong).toOption.exists(_ < upTo))
      }
    val target = new org.apache.hadoop.fs.Path(p, s"compact-$upTo")
    if (fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) {
      // a completed fold already holds every input's rows (inputs
      // ≤ the marker are immutable): an earlier run crashed between
      // its write and its deletes — just resume the deletes. A
      // re-fold here from the SURVIVING inputs would lose the rows
      // whose dirs that run already deleted.
      foldable.foreach(fs.delete(_, true))
      return
    }
    if (foldable.size <= 1 && live.isEmpty) return
    if (foldable.isEmpty) return
    require(live.isEmpty || idCols.size == 2,
      "live-filtered folds need the pair frame's two id columns")
    val folded0 = spark.read.parquet(foldable.map(_.toString): _*).distinct()
    val folded = live match {
      case Some(l) =>
        // plain semi-joins (no broadcast hint): the live set is the
        // row store's id column — corpus-∝, exactly what must never
        // be forced onto the driver; AQE may still broadcast small
        // ones at bench SF
        val ids = l.toDF("__live_id").distinct()
        folded0
          .join(ids, folded0(idCols.head) === col("__live_id"), "left_semi")
          .join(ids, folded0(idCols(1)) === col("__live_id"), "left_semi")
      case None => folded0
    }
    folded
      .coalesce(1.max(foldable.size / 8))
      .write.mode("overwrite").parquet(target.toString)
    foldable.foreach(fs.delete(_, true))
    ()
  }

  /** Near-dup CLUSTER resolution — the step between pairwise
    * detection and an actual dedup decision. Similarity pairs are not
    * transitive (A~B and B~C does not imply A~C was emitted), but
    * "keep one copy" must treat them as one group, so the pair graph
    * is resolved into connected components
    * ([[Graph.connectedComponents]]) and the minimum doc_id of each
    * component becomes its cluster id / survivor. Every corpus doc
    * appears in the output: singletons are their own keeper — the
    * result IS the post-dedup corpus manifest.
    *
    * The edge set is the EXACT n-gram Jaccard pair set
    * ([[ngramJaccard]]) — deterministic and SQL-expressible, so the
    * entire manifest (cluster ids, keepers) is value-gated against a
    * DuckDB `WITH RECURSIVE` transitive-closure oracle: the one
    * operator that decides deletions is hash-checked end-to-end, not
    * just spec-sampled. Clustering over the MinHash pair set is the
    * same composition (`minhashLsh` → [[Graph.connectedComponents]]);
    * DedupSimilaritySpec pins that the two edge sets agree on shared
    * pairs.
    */
  def dedupClusters(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame =
    clustersFrom(spark, sfDir, threshold, Graph.connectedComponents(_))

  /** [[dedupClusters]] resolved with the O(log n) star-contraction CC
    * ([[Graph.connectedComponentsStar]]) instead of O(diameter)
    * min-label propagation. Labels are the component minima under both
    * algorithms, so the manifests are IDENTICAL — registered as
    * `dedup_clusters_star` against the same `WITH RECURSIVE` oracle:
    * the large-graph scale path is value-gated end-to-end, not just
    * spec-compared.
    */
  def dedupClustersStar(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame =
    clustersFrom(spark, sfDir, threshold, Graph.connectedComponentsStar(_))

  private def clustersFrom(spark: SparkSession, sfDir: String, threshold: Double,
                           cc: DataFrame => DataFrame): DataFrame = {
    val edges = ngramJaccard(spark, sfDir, threshold)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comps = cc(edges)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
  }

  /** 64-bit SimHash per document (token-hash bit votes, computed
    * per-row with higher-order functions — zero shuffle), plus
    * near-dup pairs found by 4×16-bit band blocking with a Hamming
    * distance cap. Output: one row per near-dup pair.
    *
    * Hot-bucket guard (`bucketCap`): d docs sharing one degenerate
    * band key (all-boilerplate corpora collapse to a handful of
    * fingerprints) emit d² candidates from that bucket alone, the same
    * blowup [[ngramJaccard]]'s dfCap prevents on hot shingles.
    * Buckets over the cap are dropped from candidate GENERATION only —
    * a pair is lost only if ALL FOUR of its shared bands are
    * ultra-hot, i.e. the docs are pure boilerplate. Hamming is still
    * computed exactly on surviving candidates.
    */
  def simhash(spark: SparkSession, sfDir: String, maxHamming: Int = 6,
              bucketCap: Int = 10000): DataFrame =
    simhashOn(spark, Tables.documents(spark, sfDir), maxHamming, bucketCap)

  private[graft] def simhashOn(spark: SparkSession, docs: DataFrame,
                               maxHamming: Int = 6, bucketCap: Int = 10000): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val fp = simhashFingerprints(docs).cache()
    val pruned = dropHotBuckets(simhashBands(fp), bucketCap)
    pruned.as("a").join(pruned.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  private def simhashFingerprints(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("toks"))
      .withColumn("fp", expr("graft_simhash64(graft_hash_arr(toks))"))
      .select(col("doc_id"), col("fp"))

  /** 4×16-bit band blocking of the fingerprints; fp rides along so the
    * pair join computes Hamming without a second lookup.
    */
  private def simhashBands(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("fp"), explode(expr(
      "transform(sequence(0, 3), b -> named_struct('band', b, 'key', shiftright(fp, b * 16) & 65535))"
    )).as("e")).select(col("doc_id"), col("fp"), col("e.band"), col("e.key"))

  /** The ingest-tick regime of [[simhash]] (registered as both
    * `dedup_simhash_inc` and `dedup_simhash_store`) — the
    * [[minhashLshIncremental]] rung for SimHash: DELTA fingerprints
    * probe the stored band index, Hamming verified against the stored
    * fingerprints, base×base pairs never regenerated. The planted
    * copies (fingerprint-identical → Hamming 0) guarantee cross-tick
    * pairs at every SF. DedupSimilaritySpec pins base-pairs ∪ tick ≡
    * batch over the planted corpus.
    */
  def simhashIncremental(spark: SparkSession, sfDir: String,
      artifactDir: String = "target/graft-artifacts"): DataFrame =
    bandedLadder(spark, "simhash_ladder", sfDir, artifactDir,
      simhashDetector(6), dupPlantedDocs(spark, sfDir),
      Tables.documents(spark, sfDir).count())

  /** Drop (band, key) buckets with more than `cap` members from a
    * banded signature table — the dfCap pattern applied to LSH
    * buckets. The hot list is tiny by construction (only keys hotter
    * than cap), so the anti-join broadcasts; candidate work per bucket
    * is thereby bounded by cap² instead of d².
    *
    * No silent caps: a dropped bucket is a recall decision (a genuine
    * near-dup cluster larger than cap loses pairs, not just exact
    * copies/boilerplate), so the count of dropped buckets is computed
    * eagerly — the hot list is cached, and the anti-join's broadcast
    * reuses it, so the surfacing costs one small aggregate — and
    * logged whenever the cap binds.
    */
  private[graft] def dropHotBuckets(bands: DataFrame, cap: Int): DataFrame =
    bands.join(broadcast(hotBucketList(bands, cap)), Seq("band", "key"), "left_anti")

  /** The (band, key) buckets of `bands` with more than `cap` members —
    * cached and eagerly counted so a binding cap is LOGGED, never
    * silent (a dropped bucket is a recall decision: a genuine near-dup
    * cluster larger than cap loses pairs, not just exact copies).
    * The list is tiny by construction, so its anti-join broadcasts.
    *
    * The incremental ticks compute this over the BASE slice of the
    * band index and apply it to both join sides — the deployment
    * semantics, where hotness is a property of the materialized index
    * decided when the store is built, not recomputed per tick (a
    * delta cannot retroactively un-generate base×base candidates).
    * This also keeps the spec's base run and the tick agreeing on
    * dropped buckets; the pinned base∪tick ≡ batch identity then
    * additionally assumes the cap BINDS equally in the from-scratch
    * batch — i.e. no bucket crosses the cap only once the delta
    * arrives. The test corpora sit far under the cap; at scale a
    * crossing bucket surfaces in this log and is reconciled by the
    * next index rebuild.
    */
  private def hotBucketList(bands: DataFrame, cap: Int): DataFrame = {
    val hot = bands.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .select(col("band"), col("key"))
      .cache()
    val nHot = hot.count()
    if (nHot > 0) org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"dropHotBuckets: $nHot LSH bucket(s) over cap=$cap dropped from " +
      "candidate generation (clusters larger than the cap lose pairs; " +
      "raise bucketCap or rely on exact dedup for copy identity)")
    hot
  }

  /** Exact n-gram Jaccard similarity join via a shingle inverted
    * index: pairs form only through shared shingles (the
    * sim-join standard at scale — never all-pairs), then
    * |A∩B| / (|A|+|B|-|A∩B|) thresholded.
    *
    * Skew guard: a shingle appearing in d docs emits d² candidate
    * pairs, so one boilerplate phrase ("all rights reserved") can
    * dominate the whole shuffle. Shingles with document frequency
    * above `dfCap` are dropped from candidate GENERATION only —
    * the Jaccard itself is verified exactly against the full shingle
    * sets (array_intersect, candidates only), so the value is never
    * approximated. A qualifying pair is missed only if EVERY shared
    * shingle is ultra-frequent — impossible above moderate thresholds
    * unless the docs are pure boilerplate (at jaccard ≥ 0.8 the pair
    * shares most of its shingles; they can't all sit above dfCap in a
    * corpus where the pair itself is rare). DedupSimilaritySpec
    * asserts capped ≡ uncapped output on the test corpus.
    */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.8,
                   dfCap: Int = 10000): DataFrame = {
    // join on the 64-bit shingle hash, not the string: same pairs
    // (collision odds ~1e-9 at corpus scale), far cheaper shuffle keys.
    // cache: the sets feed candidate generation AND the verify join —
    // without it the optimizer re-derives the shingling per branch
    val sets = shingled(spark, sfDir)
      .select(col("doc_id"),
        expr("graft_hash_arr(shingles)").as("hs"))
      .cache()
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("shingle"))
    // stop-shingle list: tiny by construction (only keys hotter than
    // dfCap), so the anti-join broadcasts — no shuffle added
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("shingle"))
    val idx = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val cand = idx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", round(
        col("inter") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The ingest-tick regime of [[ngramJaccard]] — and, because the
    * exact Jaccard is deterministic, the one near-dup tick that is
    * SQL-ORACLE HASH-GATED rather than spec-gated (registered as
    * `dedup_ngram_inc`): DELTA docs' shingles probe the corpus
    * inverted index (in-query stand-in for the materialized index,
    * same regime split as [[exactIncremental]]); base×base pairs are
    * never regenerated, candidate work ∝ delta postings. Output:
    * exact-verified pairs touching ≥1 delta doc — the tick payload.
    * The planted copies guarantee jaccard-1.0 cross-tick pairs at
    * every SF; the oracle computes the same delta-touching pair set
    * from scratch in DuckDB.
    */
  def ngramJaccardIncremental(spark: SparkSession, sfDir: String, threshold: Double = 0.8,
                              baseFrac: Double = 0.8, dfCap: Int = 10000): DataFrame = {
    val cut = Tables.documents(spark, sfDir)
      .agg(floor(count(lit(1)) * baseFrac).cast("long").as("cut"))
    val sets = shingledOn(spark, dupPlantedDocs(spark, sfDir))
      .select(col("doc_id"),
        expr("graft_hash_arr(shingles)").as("hs"))
      .cache()
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("shingle"))
    val hot = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("shingle"))
    val idx = sh.join(broadcast(hot), Seq("shingle"), "left_anti")
    val deltaIdx = idx.crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cut")).drop("cut")
    val cand = deltaIdx.as("a").join(idx.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jaccard", round(
        col("inter") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** LSH-bucketed embedding near-dup: 64-bit random-hyperplane
    * signatures (map-side, codegen), 4×16-bit band blocking, exact
    * cosine verification only WITHIN buckets — the scale path that
    * replaces [[embedCosine]]'s all-pairs join. Recall is probabilistic
    * (a true pair is a candidate iff one 16-bit band matches — near-1
    * for near-identical vectors, tunable via bands); precision is
    * exact because candidates are re-verified with the true cosine.
    *
    * Regime note: band-match probability is (1-θ/π)^16 per band — at
    * cos 0.95 that's ≈ 0.56 over 4 bands, at cos 0.45 effectively 0.
    * This operator is for true near-dup corpora; for mid-similarity
    * search use [[Similarity.ivfSearch]] or [[embedCosine]].
    */
  def embedLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.9): DataFrame =
    embedLshOn(spark, Tables.embeddings(spark, sfDir), threshold)

  /** [[embedLsh]] exercised in its actual regime (registered as
    * `dedup_embed_lsh`): the corpus's own closest pairs sit at cos
    * 0.45-0.6 — below hyperplane-LSH's recall band — so we plant
    * deterministic near-duplicates: the first `nPlant` vectors get a
    * copy (id + 1 000 000) perturbed by hash-derived noise of ±0.01
    * per component (unit vectors → cos ≈ 0.999). No RNG anywhere:
    * the same pairs surface on every engine and every run. The spec
    * asserts recall against the all-pairs [[embedCosine]] baseline on
    * the identical augmented corpus.
    */
  def embedLshPlanted(spark: SparkSession, sfDir: String, nPlant: Int = 50,
                      threshold: Double = 0.9): DataFrame = {
    embedLshOn(spark, plantedCorpus(spark, sfDir, nPlant), threshold)
  }

  private[graft] def plantedCorpus(spark: SparkSession, sfDir: String, nPlant: Int): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val planted = e.filter(col("vec_id") < nPlant)
      .withColumn("embedding", expr(
        "transform(embedding, (x, i) -> " +
        "  x + 0.01 * ((pmod(xxhash64(vec_id * 64 + i), 1000) - 500) / 500.0))"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    e.unionByName(planted)
  }

  /** [[embedLshPlanted]] with the WIDE signature (registered as
    * `dedup_embed_lsh_wide`): identical semantics, 128-bit banding.
    */
  def embedLshWidePlanted(spark: SparkSession, sfDir: String, nPlant: Int = 50,
                          threshold: Double = 0.9): DataFrame =
    embedLshWideOn(spark, plantedCorpus(spark, sfDir, nPlant), threshold)

  /** Wide-signature embedding LSH — [[embedLshOn]] past the 64-bit
    * banding wall. Same pipeline (signature → banded blocking →
    * hot-bucket guard → exact-cosine verify, precision 1.0 by
    * construction), but the signature is `nWords`×64 bits
    * ([[graft.functions.VectorFunctions.HyperplaneWide]]) banded as
    * `nWords·64/bandBits` bands of `bandBits` bits.
    *
    * Why: candidate volume from RANDOM pairs is
    * C(n,2)·bands·2^-bandBits — a corpus-independent n² term that
    * 16-bit bands (all 64 bits allow at 4 bands) push past ~10M
    * candidates around n ≈ 10⁶ vectors (measured in BENCH_scale_docs:
    * 7M+ candidates at 500k). The default here (2 words → 4 bands ×
    * 32 bits) holds the random term to ~2k candidates at n = 2M while
    * near-identical pairs (cos ≥ 0.99, the dedup regime) still
    * collide in ≥1 band with p ≈ 0.999. The trade is recall at the
    * BOTTOM of the similarity band: borderline-0.9 pairs collide with
    * p ≈ 0.03 — wide banding is the near-identical detector; for
    * borderline-similarity mining at scale use [[Similarity]]'s IVF
    * search, which probes by geometry rather than bit agreement.
    */
  private[graft] def embedLshWideOn(spark: SparkSession, embeddings: DataFrame,
                                    threshold: Double, nWords: Int = 2, bandBits: Int = 32,
                                    bucketCap: Int = 10000): DataFrame = {
    require(Set(8, 16, 32, 64)(bandBits), s"bandBits must divide 64, got $bandBits")
    graft.functions.VectorFunctions.register(spark)
    val e = hyperSetsWide(embeddings, nWords).cache()
    val bands = dropHotBuckets(hyperBandsWide(e, nWords, bandBits), bucketCap)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    verifyCosPairs(cand, e, threshold)
  }

  /** (vec_id, v, norm, sigw): wide-signature twin of [[hyperSets]]. */
  private def hyperSetsWide(embeddings: DataFrame, nWords: Int): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .withColumn("sigw", expr(s"graft_hyperplane(v, $nWords)"))

  /** `bandBits`-bit band blocking over the wide signature words. The
    * shift is arithmetic but the mask clears any sign-extended bits,
    * so keys are the raw bit slices.
    */
  private def hyperBandsWide(e: DataFrame, nWords: Int, bandBits: Int): DataFrame = {
    val nBands = nWords * 64 / bandBits
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    e.select(col("vec_id"), explode(expr(
      s"transform(sequence(0, ${nBands - 1}), b -> named_struct('band', b, " +
      s"'key', shiftright(element_at(sigw, cast((b * $bandBits) div 64 as int) + 1), " +
      s"cast((b * $bandBits) % 64 as int)) & ${mask}L))"
    )).as("x")).select(col("vec_id"), col("x.band"), col("x.key"))
  }

  private[graft] def embedLshOn(spark: SparkSession, embeddings: DataFrame, threshold: Double,
                                bucketCap: Int = 10000): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val e = hyperSets(embeddings).cache()
    val bands = dropHotBuckets(hyperBands(e), bucketCap)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    verifyCosPairs(cand, e, threshold)
  }

  /** (vec_id, v, norm, sig): the vector plus everything the verify and
    * banding steps need — the schema of the materialized signature
    * store in the incremental regime.
    */
  private def hyperSets(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .withColumn("sig", expr("graft_hyperplane64(v)"))

  /** 4×16-bit band blocking of the hyperplane signatures. Hot-bucket
    * guard applied by callers (same dfCap pattern as [[simhashOn]]: a
    * degenerate bucket — zero vectors, one-template corpora — holds d
    * vectors → d² candidates; the cap bounds it at cap²).
    */
  private def hyperBands(e: DataFrame): DataFrame =
    e.select(col("vec_id"), explode(expr(
      "transform(sequence(0, 3), b -> named_struct('band', b, 'key', shiftright(sig, b * 16) & 65535))"
    )).as("x")).select(col("vec_id"), col("x.band"), col("x.key"))

  /** Exact-cosine verification of LSH-proposed pairs (candidates only,
    * never all-pairs).
    */
  private def verifyCosPairs(cand: DataFrame, e: DataFrame, threshold: Double): DataFrame =
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")), Seq("vec_b"))
      .withColumn("cos", round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))

  /** The ingest-tick regime of [[embedLsh]] (registered as both
    * `dedup_embed_lsh_inc` and `dedup_embed_lsh_store`) — the
    * [[minhashLshIncremental]] rung over the planted embedding corpus
    * ([[plantedCorpus]], 50 copies: their ids sit above any corpus id
    * and land in the delta, pairing their base originals at cos ≈
    * 0.999): DELTA vectors' signatures probe the stored band index,
    * exact cosine verified against the stored vectors, base×base
    * pairs never regenerated. DedupSimilaritySpec pins base-pairs ∪
    * tick ≡ batch over the same planted corpus.
    */
  def embedLshIncremental(spark: SparkSession, sfDir: String,
      artifactDir: String = "target/graft-artifacts"): DataFrame =
    bandedLadder(spark, "embedlsh_ladder", sfDir, artifactDir,
      embedLshDetector(0.9), plantedCorpus(spark, sfDir, 50),
      Tables.embeddings(spark, sfDir).count())

  /** Embedding-cosine near-dup pairs. Norms are precomputed per row
    * (map-side); the pair join is a self-join thresholded on cosine.
    * Brute-force all-pairs is intentional here — it is the exactness
    * baseline; the scale path is [[Similarity.ivfSearch]]'s bucketing.
    */
  def embedCosine(spark: SparkSession, sfDir: String, threshold: Double = 0.45): DataFrame =
    embedCosineOn(spark, Tables.embeddings(spark, sfDir), threshold)

  /** The REGISTERED form of [[embedCosine]]: an O(n²) all-pairs plan
    * must never ship as a full-corpus query, so the exact-cosine audit
    * runs over a deterministic hash-gated slice (same md5-prefix gate
    * as every sampler in [[Sampling]], mirrored in the DuckDB oracle).
    * At 100 TB this is the standard exactness AUDIT: a reproducible
    * sample cross-checking the registered scale paths ([[embedLsh]],
    * [[Similarity.ivfSearch]]).
    *
    * The slice is BUDGET-bounded, not proportional: the gate keeps
    * ~`budget` vectors regardless of corpus size (threshold =
    * ⌈2¹⁶·budget/n⌉ over the first 4 hex chars of md5(vec_id), with n
    * the corpus count computed in-plan and broadcast — no driver
    * collect). Pair work is therefore O(budget²) at ANY scale — the
    * 100× corpus runs the same-sized audit. When n ≤ budget the gate
    * keeps everything (threshold saturates at 2¹⁶), so the small-SF
    * oracle check covers the full all-pairs result. PlanShapeSpec
    * ("embed-cosine audit: ...") asserts the registered plan's
    * BroadcastNestedLoopJoin sits above the gated scan, never the
    * full corpus.
    */
  def embedCosineGated(spark: SparkSession, sfDir: String, threshold: Double = 0.45,
                       budget: Int = 1000): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val cnt = emb.agg(count(lit(1)).as("gate_n"))
    val sliced = emb.crossJoin(broadcast(cnt))
      .filter(expr("conv(substring(md5(cast(vec_id as string)), 1, 4), 16, 10)").cast("long")
        < least(ceil(lit(65536.0) * budget / col("gate_n")), lit(65536L)))
      .drop("gate_n")
    embedCosineOn(spark, sliced, threshold)
  }

  private[graft] def embedCosineOn(spark: SparkSession, embeddings: DataFrame, threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", round(
        expr("graft_dot(va, vb)") / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Cross-doc VERBATIM substring overlap (the regime of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models
    * Better": long exact substrings shared across documents are the
    * memorization vector that survives doc-level near-dup filters —
    * two mostly-different pages quoting the same 50-token passage).
    * The suffix-array formulation is replaced by a Spark-shaped
    * equivalent at fixed granularity: every `k`-token sliding window
    * (per-doc distinct), pairs of docs sharing ≥ `minShared` windows,
    * with the shared-window COUNT as the evidence weight. A doc pair
    * sharing any ≥(k + minShared − 1)-token verbatim run shares ≥
    * minShared windows, so the fixed-k detector covers every longer
    * run — the suffix array's generality traded for one shuffle.
    *
    * Scale: windows ≈ tokens, so the explode is `q_ngram_topk`'s
    * measured token-scale shuffle (not quadratic); windows travel as
    * 64-bit xxhash keys, never strings; a window in d docs emits d²
    * pairs, so windows with document frequency > `dfCap` are dropped
    * from candidate generation (the [[ngramJaccard]] skew guard —
    * corpus-wide boilerplate is [[graft.operators.TextAnalysis]]'s
    * line-dedup's job, not this operator's) — the cap is mirrored
    * EXACTLY in the DuckDB oracle, so the registered query stays
    * hash-gated. Output: (doc_a, doc_b, shared_windows).
    */
  def substringDedup(spark: SparkSession, sfDir: String, k: Int = 8,
                     minShared: Int = 2, dfCap: Int = 100): DataFrame =
    substringDedupOf(Tables.documents(spark, sfDir), k, minShared, dfCap)

  /** Core on an injectable (doc_id, text) corpus — spec entry.
    * `hotMaxRows` overrides the hot-list broadcast gate (specs pin
    * the shuffled fallback with 0).
    */
  private[graft] def substringDedupOf(docs: DataFrame, k: Int,
      minShared: Int, dfCap: Int,
      hotMaxRows: Long = Hints.DeltaBroadcastMaxRows): DataFrame = {
    val idx = windowIndex(docs, k, dfCap, hotMaxRows)
    idx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
  }

  /** DF-capped inverted window index: per-doc-distinct k-token
    * windows as xxhash64 keys, windows hotter than `dfCap` dropped.
    * The stop-window list is USUALLY tiny (only keys over dfCap
    * qualify), but at 100 TB corpus-wide boilerplate can grow it past
    * a broadcast — so the anti-join side is SIZE-GATED, the
    * [[TextAnalysis.cleanWithBoiler]] convention: a small list is
    * broadcast straight from the executor-side cache (never pulled
    * through the driver as boxed Rows), a huge one degrades to a
    * shuffled anti-join instead of an OOM. PlanShapeSpec pins both
    * regimes.
    */
  private def windowIndex(docs: DataFrame, k: Int, dfCap: Int,
      hotMaxRows: Long = Hints.DeltaBroadcastMaxRows): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    // r14: per-doc window dedup happens MAP-SIDE on the 8-byte hashes
    // (array_distinct over graft_hash_arr) — the prior explode(string
    // windows).distinct() shuffled every ~50-byte window string
    // through a full exchange before hashing. Equivalent up to
    // intra-doc 64-bit hash collision, the same equivalence class the
    // cross-doc h-join already accepts (and the SQL oracle, which
    // joins on window STRINGS, still hash-gates the result).
    val hw = docs.withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(expr("array_distinct(graft_hash_arr(" +
          s"graft_word_grams(w, $k)))")).as("h"))
    val hot = hw.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("h")).cache()
    val n = hot.count()
    // below the gate: broadcast the CACHED frame — materialization
    // stays on executors (a driver collect of up to ~4M boxed Rows is
    // hundreds of MB of driver heap the executors' columnar cache
    // holds in ~32 MB); the pinned cache is bounded by the same gate
    // and released by the caller's session-wide clearCache (the
    // Bench/Verify per-query convention). Above it, the anti-join
    // degrades to a shuffle and the cache (which only served the
    // count) is dropped now.
    val hotSide =
      if (n <= hotMaxRows) broadcast(hot)
      else { hot.unpersist(); hot }
    hw.join(hotSide, Seq("h"), "left_anti")
  }

  /** The ingest-tick regime of [[substringDedup]] (registered
    * `dedup_substring_inc`, SQL-oracle hash-gated like
    * [[ngramJaccardIncremental]]): DELTA docs' windows probe the
    * corpus window index — base×base pairs never re-form, candidate
    * work ∝ delta postings. Output: qualifying pairs touching ≥ 1
    * delta doc. Same exact semantics as the batch operator restricted
    * to delta-touching pairs (spec-pinned), so the tick payload
    * composes with the landed pair set by union.
    */
  def substringDedupIncremental(spark: SparkSession, sfDir: String, k: Int = 8,
      minShared: Int = 2, dfCap: Int = 100, baseFrac: Double = 0.8): DataFrame = {
    // the dupPlantedDocs augmentation (the ngram_inc convention):
    // planted copies land at id + 10M — always in the delta — so the
    // tick has guaranteed cross-cut pairs at every SF
    val docs = dupPlantedDocs(spark, sfDir)
    val cut = Tables.documents(spark, sfDir)
      .agg(floor(count(lit(1)) * baseFrac).cast("long").as("cut"))
    val idx = windowIndex(docs, k, dfCap)
    val deltaIdx = idx.crossJoin(broadcast(cut))
      .filter(col("doc_id") >= col("cut")).drop("cut")
    deltaIdx.as("a").join(idx.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.h").as("h"))
      .distinct()
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_windows"))
      .filter(col("shared_windows") >= minShared)
  }
}
