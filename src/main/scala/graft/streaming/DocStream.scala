package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Typed document row for streaming corpus ingestion. */
case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** Streaming twin of [[graft.operators.Dedup.exact]]: continuous
  * content dedup for a document ingest pipeline. A 100 TB corpus is
  * not assembled in one batch — it arrives as a stream, and admitting
  * a document twice poisons the training mix, so the dedup has to run
  * AT ingest.
  */
object DocStream {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.DocStream")

  /** A document micro-batch, deduplicated: its (doc_id, text) rows, or
    * (op, doc_id, text, text_before) when it carries an `op` column (a
    * CDC feed). At-least-once delivery inside one trigger must not
    * count a row twice.
    */
  private def docBatch(batch: DataFrame): DataFrame = {
    val cols = if (batch.columns.contains("op")) Seq("op", "doc_id", "text", "text_before")
      else Seq("doc_id", "text")
    batch.select(cols.map(col): _*).distinct()
  }

  /** Keep the first arrival of each distinct content hash.
    * `dropDuplicatesWithinWatermark` holds one state entry per
    * DISTINCT content seen within the watermark horizon and expires
    * it afterwards — state is bounded by the ingest rate × horizon,
    * not by corpus lifetime, which is what keeps this runnable
    * forever. The trade is explicit: a duplicate re-arriving after
    * the horizon is re-admitted; the periodic batch
    * [[graft.operators.Dedup.exact]] pass over the landed corpus
    * catches those stragglers.
    */
  def dedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** Continuous NEAR-dup maintenance over MinHash signature + band
    * BucketStores — the top rung of the near-dup ladder (batch
    * [[graft.operators.Dedup.minhashLsh]] → one seeded tick
    * `dedup_minhash_inc` / `dedup_minhash_store`, the same BucketStore
    * tick registered under both keys → this). Each micro-batch runs
    * one detector tick
    * ([[graft.operators.Dedup.nearDupStoreTick]]): the delta's band
    * hashes name the band-store buckets it can collide with before
    * any store read, candidates form only within those buckets, exact
    * verification reads only the candidates' row-store buckets, and
    * both stores advance through [[BucketStore.applyTick]]'s atomic
    * generation publish under the batch id — untouched buckets stay
    * byte-identical, and a crash between the two store applies heals
    * on replay instead of leaving the pair inconsistent.
    *
    * The verified pairs land at `pairsDir/batch=<id>` (overwritten on
    * replay — the pair log is idempotent); `spark.read.parquet(pairsDir)`
    * is the cumulative near-dup pair set, which downstream cluster
    * resolution ([[graft.operators.Dedup.dedupClusters]]) consumes.
    * Ingest is append-only: a revised document must arrive as a new
    * doc_id (the stores' key-purity contract).
    *
    * @param docs          streaming (doc_id, text) ingest rows
    * @param sigDir        bucketed signature store — seed with
    *                      [[graft.operators.Dedup.seedMinhashStores]]
    * @param bandDir       bucketed band index — same seed call
    * @param pairsDir      near-dup pair log, one subdir per batch
    * @param checkpointDir durable streaming checkpoint (REQUIRED: the
    *                      replay guard needs monotonic batch ids)
    * @param nBuckets      both stores' bucket count, must match the
    *                      seed; ≤ 0 (the r15 default) recovers it from
    *                      the row store's meta — the layout contract
    *                      the seed froze (seeds themselves now DERIVE
    *                      the count from corpus size)
    */
  def startNearDupMaintain(docs: DataFrame, sigDir: String, bandDir: String,
                           pairsDir: String, checkpointDir: String,
                           nBuckets: Int = -1,
                           threshold: Double = 0.5,
                           bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(docs, s => graft.operators.Dedup.minhashDetector(s, threshold),
      sigDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** [[startNearDupMaintain]] with the SimHash detector: fingerprint +
    * band BucketStores, Hamming-verified pairs. Seed with
    * [[graft.operators.Dedup.seedNearDupStores]] over
    * `simhashDetector`. Same tick machinery, same crash/replay story.
    */
  def startSimhashMaintain(docs: DataFrame, fpDir: String, bandDir: String,
                           pairsDir: String, checkpointDir: String,
                           nBuckets: Int = -1,
                           maxHamming: Int = 6,
                           bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(docs, _ => graft.operators.Dedup.simhashDetector(maxHamming),
      fpDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** [[startNearDupMaintain]] with the embedding-LSH detector over a
    * stream of (vec_id, embedding) rows: (vector, norm, hyperplane
    * signature) + band BucketStores, exact-cosine-verified pairs.
    * Seed with [[graft.operators.Dedup.seedNearDupStores]] over
    * `embedLshDetector`. Same tick machinery, same crash/replay story.
    */
  def startEmbedNearDupMaintain(vecs: DataFrame, vecDir: String, bandDir: String,
                                pairsDir: String, checkpointDir: String,
                                nBuckets: Int = -1,
                                threshold: Double = 0.9,
                                bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(vecs, _ => graft.operators.Dedup.embedLshDetector(threshold),
      vecDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** [[startEmbedNearDupMaintain]] with the WIDE-signature detector
    * ([[graft.operators.Dedup.embedLshWideDetector]]) — the
    * continuous regime for corpora past the 64-bit banding wall
    * (BENCH_scale_docs: ~10⁶ vectors). Seed with
    * [[graft.operators.Dedup.seedNearDupStores]] over the same
    * detector; same tick machinery, same crash/replay story.
    */
  def startEmbedWideNearDupMaintain(vecs: DataFrame, vecDir: String, bandDir: String,
                                    pairsDir: String, checkpointDir: String,
                                    nBuckets: Int = -1,
                                    threshold: Double = 0.9,
                                    bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(vecs, _ => graft.operators.Dedup.embedLshWideDetector(threshold),
      vecDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** [[startNearDupMaintain]] with the perceptual-hash IMAGE detector
    * ([[graft.multimodal.Multimodal.imagePhashDetector]]) over a
    * stream of (doc_id, payload) rows — the continuous rung of the
    * image near-dup family (`mm_phash` is its batch operator): each
    * micro-batch's images are decoded and 128-bit dHashed map-side
    * (only the fingerprints enter the stores — the binary payload is
    * never persisted here), banded 8×16-bit against the stored band
    * index, and Hamming-verified ≤ maxDist. Seed with
    * [[graft.operators.Dedup.seedNearDupStores]] over the same
    * detector; same tick machinery, same crash/replay story as the
    * text and embedding detectors.
    */
  def startImageNearDupMaintain(imgs: DataFrame, fpDir: String, bandDir: String,
                                pairsDir: String, checkpointDir: String,
                                nBuckets: Int = -1,
                                maxDist: Int = 7,
                                bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(imgs, _ => graft.multimodal.Multimodal.imagePhashDetector(maxDist),
      fpDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** [[startImageNearDupMaintain]]'s AUDIO twin: each micro-batch of
    * (doc_id, payload) WAV rows is decoded and spectrally
    * fingerprinted map-side
    * ([[graft.multimodal.Multimodal.audioFpDetector]] — only the
    * 128-bit fingerprints enter the stores), banded and
    * Hamming-verified against the landed corpus through the same
    * generic tick. Seed with
    * [[graft.operators.Dedup.seedNearDupStores]] over the same
    * detector.
    */
  def startAudioNearDupMaintain(clips: DataFrame, fpDir: String, bandDir: String,
                                pairsDir: String, checkpointDir: String,
                                nBuckets: Int = -1,
                                maxDist: Int = 3,
                                bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(clips, _ => graft.multimodal.Multimodal.audioFpDetector(maxDist),
      fpDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** The VIDEO rung — sixth family through the same generic tick:
    * each micro-batch of (doc_id, payload) AVI rows is demuxed and
    * luminance-sequenced map-side
    * ([[graft.multimodal.Multimodal.videoFpDetector]] — only the
    * per-frame level sequences, ≤ 32 B/clip, enter the stores),
    * shifted-grid-banded against the landed corpus, and verified with
    * the exact best-alignment luminance difference. Seed with
    * [[graft.operators.Dedup.seedNearDupStores]] over the same
    * detector; same crash/replay story as the other five.
    */
  def startVideoNearDupMaintain(clips: DataFrame, rowsDir: String, bandDir: String,
                                pairsDir: String, checkpointDir: String,
                                nBuckets: Int = -1,
                                maxTrim: Int = 3, tol: Double = 8.0,
                                bucketCap: Int = 10000,
                           probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
                           compactPairsEveryNTicks: Int = 8): StreamingQuery =
    startBandedMaintain(clips, _ => graft.multimodal.Multimodal.videoFpDetector(maxTrim, tol),
      rowsDir, bandDir, pairsDir, checkpointDir, nBuckets, bucketCap, probe, compactPairsEveryNTicks)

  /** The drift probe's operating width: an explicit `nprobe` wins;
    * the ≤ 0 default derives from the index's ACTUAL list count
    * ([[graft.operators.Similarity.deriveIvfNprobe]]) so the probe
    * measures recall at the operating point derived-knob searches use
    * — a fixed probe width on a derived-nlist index would read a
    * constant-fraction scan the searches never perform.
    */
  private def probeWidth(p: graft.operators.Similarity.IvfProbeConfig,
      nlist: Int): Int =
    if (p.nprobe > 0) p.nprobe
    else graft.operators.Similarity.deriveIvfNprobe(nlist)

  /** The shared maintainer behind the seven near-dup wrappers above
    * (six detector families: MinHash and SimHash text, embedding LSH
    * in its narrow and wide forms, image, audio and video), run
    * through [[Maintainer.start]]. The replay guard keys on whichever
    * store each tick path moves LAST — the BAND store for append
    * ticks, the ROW store for CDC ticks (CDC applies band-first
    * because its removal keys derive from the row store's
    * before-images) — so "commit store caught up" ⇒ the whole tick
    * (pairs included) landed; anything earlier re-runs idempotently
    * (the already-applied store skips on its own marker, the other
    * catches up).
    */
  private def startBandedMaintain(input: DataFrame,
      det: org.apache.spark.sql.SparkSession => graft.operators.Dedup.NearDupDetector,
      rowsDir: String, bandDir: String, pairsDir: String, checkpointDir: String,
      nBuckets: Int, bucketCap: Int,
      probe: Option[graft.operators.Dedup.BandedProbeConfig] = None,
      compactPairsEveryNTicks: Int = 8): StreamingQuery = {
    // a stream WITH an `op` column is a CDC feed (the
    // startBm25Maintain convention): delete/re-ingest batches
    // route through the tombstoning merge tick — before-images
    // come from the row store itself, so the feed carries only
    // (op, id, payload). Pure-insert streams keep the O(delta)
    // append tick; don't put an op column on one.
    val isCdc = input.columns.contains("op")
    // replay guard on the store each path applies LAST (append:
    // rows→band; CDC: band→rows). Guarding on the first-moved
    // store would skip a crash-interrupted tick on redelivery and
    // permanently strand the second store.
    val commitDir = if (isCdc) rowsDir else bandDir
    val inputCols = det(input.sparkSession).inputCols
    Maintainer.start(input, checkpointDir, Seq(rowsDir, bandDir), Some(commitDir)) { batch =>
      batch.select(((if (isCdc) Seq("op") else Seq.empty) ++ inputCols).map(col): _*).distinct()
    } { (b, batchId, _) =>
      val spark = b.sparkSession
      val d = det(spark)
      // nBuckets ≤ 0 (the r15 default): the store's own meta IS
      // the layout contract — recover it rather than trust an
      // operator-typed count (seeds now DERIVE their count, so a
      // maintainer default that guessed 64 would mismatch any
      // derived-layout store; explicit counts still assert)
      val n = if (nBuckets > 0) nBuckets
        else BucketStore.seededBuckets(rowsDir)
      if (isCdc)
        graft.operators.Dedup.nearDupStoreCdcTick(spark, d, rowsDir, bandDir,
          pairsDir, b, batchId, n, bucketCap)
      else
        graft.operators.Dedup.nearDupStoreTick(spark, d, rowsDir, bandDir,
          pairsDir, b, batchId, n, bucketCap)
      // planted-recall drift probe over a hash-sample of THIS
      // tick's rows (the startIvfMaintain convention): exact-copy
      // plants must pair with their just-ticked sources, so every
      // miss isolates a stale hot-bucket freeze — the banded
      // families' staleness signal. CDC batches skip it (delete
      // rows carry null payloads the detector can't sample).
      probe.filter(p => !isCdc && batchId % p.everyNTicks.max(1) == 0).foreach { p =>
        val qs = b.orderBy(md5(col(d.idCol).cast("string"))).limit(p.sample)
        val r = graft.operators.Dedup.bandedDriftProbe(spark, d,
          rowsDir, bandDir, qs, n, bucketCap, p.floor)
        log.info(s"$bandDir batch=$batchId $r")
        if (r.tripped) {
          log.warn(s"$bandDir batch=$batchId PLANTED-RECALL DRIFT: $r — " +
            "the sampled rows' band keys are hot-frozen; raise bucketCap " +
            "or re-band/rebuild the store")
          p.onDrift(batchId, r)
        }
      }
      // r15 (the r14 verdict's #6): the pair log folds ITSELF —
      // every `compactPairsEveryNTicks` ticks the maintainer runs
      // the live-filtered fold (the maxLiveGenerations deferred-
      // compaction precedent), instead of leaving compaction
      // operator-initiated. Without this the log grows one dir per
      // tick forever AND keeps tombstoned ids' pairs (an event log
      // grows with history, not the live corpus). Fold point:
      // after this tick's stores committed, up to the replay-guard
      // marker — a replayed batch ≤ the marker skips its tick
      // (pair write included), so folded batches are never
      // rewritten. The live set is the row store's current id
      // column (corpus-∝ — semi-joined, never collected).
      if (compactPairsEveryNTicks > 0 && batchId > 0 &&
          batchId % compactPairsEveryNTicks == 0) {
        val live = BucketStore.readAll(spark, rowsDir).select(col(d.idCol))
        graft.operators.Dedup.compactPairLog(spark, pairsDir,
          upTo = BucketStore.appliedBatchId(commitDir),
          live = Some(live), idCols = Seq(d.aCol, d.bCol))
      }
    }
  }

  /** Streaming materialized view of the exact-dedup store — the
    * corpus twin of [[EventStream.startCoocMaintain]], and the
    * deployment regime the [[graft.operators.Dedup.exactDelta]]
    * scaladoc promises. r14 (the r13 verdict's #5): the store holds
    * (text_md5, doc_id) MEMBER rows and the group surface derives
    * merge-on-read ([[graft.operators.Dedup.readDedupGroups]] —
    * min = keeper, count = copies), because merged group rows cannot
    * take deletes: min(keep_doc_id) is not invertible, so a dead
    * keeper's replacement is unknowable from (md5, min, count) alone,
    * where the member rows name the next-lowest live member exactly.
    * The redesign also upgrades append ticks from touched-bucket
    * merges to pure O(delta) generation stacks (new doc_ids ⇒ new
    * member keys ⇒ zero carry-over reads; `applyAppendTick`, identity
    * compaction modulo a defensive member-key distinct).
    *
    * Streams WITHOUT an `op` column are append-only ingest. A stream
    * WITH (op ∈ 'i'|'u'|'d', doc_id, text, text_before) columns is a
    * CDC feed (the `startBm25Maintain` shape): a delete tombstones
    * the (md5(text_before), doc_id) member — if that doc was the
    * keeper, the group's next read elects the next-lowest live
    * member; the last member's deletion ends the group — and an
    * update moves the doc between groups (remove the before-image
    * member not re-asserted, insert the new one) in one `applyTick`
    * merge. Replay guard: the applied-batch marker promotes into the
    * store only after every touched bucket landed, so an
    * at-least-once redelivery (marker >= batchId) skips the apply
    * instead of double-counting copies.
    *
    * The store IS the dedup decision surface: `keep_doc_id` per
    * content group, `n_copies` for audit — the reference recomputes
    * its dedup from scratch per ingest (prepare_dataset.py); this is
    * that tick made incremental. Each micro-batch runs one
    * [[graft.operators.Dedup.dedupMemberTick]], the tick the
    * registered `dedup_exact_store` rung runs too.
    *
    * @param docs          streaming (doc_id, text) ingest rows —
    *                      optionally with the CDC op columns above
    * @param storeDir      bucketed MEMBER store — seed with
    *                      [[graft.operators.Dedup.seedDedupMemberStore]]
    * @param checkpointDir durable streaming checkpoint (REQUIRED for
    *                      the replay guard: batch ids must be
    *                      monotonic across restarts)
    * @param nBuckets      the store's bucket count — part of its
    *                      on-disk contract, must match the seed; ≤ 0
    *                      (the r15 default) recovers it from the
    *                      store's meta
    */
  def startDedupMaintain(docs: DataFrame, storeDir: String, checkpointDir: String,
                         nBuckets: Int = -1): StreamingQuery =
    Maintainer.start(docs, checkpointDir, Seq(storeDir), Some(storeDir))(docBatch) {
      (b, batchId, _) =>
        graft.operators.Dedup.dedupMemberTick(b.sparkSession, storeDir, b, batchId, nBuckets)
    }

  /** Streaming materialized view of the boilerplate LINE-COUNT store —
    * the continuous rung of the [[graft.operators.TextAnalysis
    * .lineDedup]] family (batch → inc → store rung → this; the last
    * two share [[lineCountTick]]): each micro-batch's distinct (line-key, doc) counts land as PARTIAL
    * (k, ndocs) rows through the MERGE-ON-READ append protocol
    * (r13): the tick writes its own counts as one stacked generation
    * with ZERO carry-over reads — a text batch's line keys hash
    * across ~every bucket, so the old merge tick re-read and rewrote
    * ~the whole store per tick (the BM25 postings bound) — and the
    * SUM reduction moves to the two places it belongs: readers
    * aggregate after reading ([[readLineCounts]] — sum is
    * associative, so partial rows from any generation split are
    * exact), and the `maxLiveGenerations` compaction fold applies the
    * same reduction via `onCompact`, so a hot boilerplate key's
    * partials collapse every ~maxLive ticks instead of growing with
    * tick count. The store IS the scrub decision surface:
    * `readLineCounts(...).filter(ndocs >= minDocs)` keys are the
    * boilerplate set [[graft.operators.TextAnalysis.cleanWithBoiler]]
    * strikes at ingest. Replay guard identical to the other
    * maintainers (applied-batch marker; redelivered ticks no-op
    * instead of double-counting).
    *
    * CDC (r14, the r13 verdict's #5): a stream WITH (op ∈ 'i'|'u'|'d',
    * doc_id, text, text_before) columns appends SIGNED partials — the
    * before-image's line counts negated, the new text's counts
    * positive — through the SAME append protocol: a deleted doc's
    * lines stop inflating `ndocs >= minDocs` boilerplate verdicts the
    * moment the tick lands, with no merge tick at all (sum-partials
    * stores are the one family where deletes ride the O(delta) append
    * path — subtraction IS addition). Net-zero keys vanish at the
    * next compaction fold and are filtered by [[readLineCounts]].
    */
  def startLineCountMaintain(docs: DataFrame, storeDir: String, checkpointDir: String,
                             nBuckets: Int = -1): StreamingQuery =
    Maintainer.start(docs, checkpointDir, Seq(storeDir), Some(storeDir))(docBatch) {
      (b, batchId, _) => lineCountTick(b.sparkSession, storeDir, b, batchId, nBuckets)
    }

  /** One tick of the line-count store — the single body behind
    * [[startLineCountMaintain]] and
    * [[graft.operators.TextAnalysis.lineDedupStore]]: the batch's
    * (line-key, doc) counts append as one generation of PARTIAL
    * (k, ndocs) rows, with the SUM fold as the compaction reduction.
    * A batch WITH (op, doc_id, text, text_before) columns appends
    * signed partials: the before-image's counts negated, the new
    * text's positive. `nBuckets` ≤ 0 recovers the layout from the
    * store's meta.
    */
  private[graft] def lineCountTick(spark: SparkSession, storeDir: String, b: DataFrame,
                                   batchId: Long, nBuckets: Int): Unit = {
    val n = if (nBuckets > 0) nBuckets else BucketStore.seededBuckets(storeDir)
    def counts(df: DataFrame, sign: Int): DataFrame =
      graft.operators.TextAnalysis.lineCountsOf(df.filter(col("text").isNotNull))
        .select(col("k"), (col("ndocs") * sign).as("ndocs"))
    val deltaCounts =
      if (b.columns.contains("op"))
        counts(b.filter(col("op").isin("i", "u"))
            .select(col("doc_id"), col("text")), 1)
          .unionByName(counts(b.filter(col("op").isin("u", "d"))
            .select(col("doc_id"), col("text_before").as("text")), -1))
      else counts(b, 1)
    BucketStore.applyAppendTick(spark, storeDir,
      deltaCounts.withColumn(BucketStore.BucketCol,
        BucketStore.md5Bucket(md5(col("k")), n)),
      batchId, n = n,
      onCompact = Some(_.groupBy(col("k"), col(BucketStore.BucketCol))
        .agg(sum(col("ndocs")).as("ndocs"))
        .filter(col("ndocs") =!= 0)))
    ()
  }

  /** Canonical reader of the line-count store: generations hold
    * PARTIAL per-tick counts (see [[startLineCountMaintain]]), so
    * every read aggregates — this is the merge-on-read half of the
    * LSM contract, and the only correct way to consume the store.
    */
  def readLineCounts(spark: SparkSession, storeDir: String): DataFrame =
    BucketStore.readAll(spark, storeDir)
      .groupBy(col("k")).agg(sum(col("ndocs")).as("ndocs"))
      // CDC partials are signed: a fully-deleted line nets 0 (dropped
      // here and reclaimed at the next compaction fold)
      .filter(col("ndocs") > 0)

  /** Continuous decontamination at ingest: flag incoming documents
    * whose word n-grams hit the PERSISTED eval-suite bloom artifact
    * ([[graft.operators.Decontamination.buildBloomArtifact]]). Fully
    * STATELESS — the filter rides into every task as a binary literal
    * and the per-doc candidate count is computed inside the row
    * (array `filter`/`size` over the gram list, no explode, no
    * shuffle, no streaming state), so this composes with any
    * watermark/output-mode downstream. Bloom-only semantics are
    * conservative by construction: a false positive QUARANTINES a
    * clean doc for the (tiny, offline) exact verify —
    * `Decontamination.flagContaminatedStored`'s second phase — a leak
    * can never pass. Works identically on batch frames (the spec
    * gates it against the exact operator).
    */
  def flagSuspects(docs: DataFrame, bloom: Array[Byte], n: Int = 4): DataFrame = {
    graft.functions.VectorFunctions.registerBloom(docs.sparkSession)
    def mightContain(g: org.apache.spark.sql.Column) =
      call_function("graft_might_contain", lit(bloom), xxhash64(g))
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .withColumn("n_candidate_grams",
        size(filter(graft.operators.TextAnalysis.wordGrams(n), mightContain(_))))
      .filter(col("n_candidate_grams") > 0)
      .select(col("doc_id"), col("n_candidate_grams"))
  }

  /** Continuous maintainer for the PERSISTED IVF index
    * ([[graft.operators.Similarity.ivfStoreSearch]]'s store): each
    * micro-batch of (vec_id, embedding) rows is assigned to its
    * nearest centroid with the FROZEN quantizer (map-side against the
    * centroid artifact — re-training is an index rebuild, not a
    * tick) and appended through one generation-publish tick; touched
    * buckets = exactly the clusters the batch's vectors land in, so
    * untouched inverted lists stay byte-identical and searches keep
    * snapshot isolation while the index grows. Crash/replay story
    * identical to every other maintainer: recover rolls unpublished
    * generations back, the applied-batch marker skips redelivered
    * batches.
    *
    * Seed with [[graft.operators.Similarity.trainQuantizer]] +
    * `seedIvfStore` over the landed corpus.
    *
    * @param vecs          streaming (vec_id, embedding) rows
    * @param storeDir      cluster-bucketed postings BucketStore
    * @param centroidsDir  the frozen quantizer artifact
    * @param checkpointDir durable streaming checkpoint (REQUIRED: the
    *                      replay guard needs monotonic batch ids)
    * @param nlist         the quantizer's centroid count = the
    *                      store's bucket count, must match the seed.
    *                      ≤ 0 (the r15 default) RECOVERS it from the
    *                      centroid artifact itself (`cents.size` —
    *                      the artifact IS the bucket contract, the
    *                      startSemanticDedupMaintain precedent), so a
    *                      derived-nlist seed and its maintainer can
    *                      never silently disagree: an operator-typed
    *                      nlist that mismatched the seed would bucket
    *                      tick rows into the WRONG inverted lists
    * @param probe         optional recall-drift probe policy: sampled
    *                      recall measured after qualifying ticks,
    *                      logged with the tick stats; a reading below
    *                      the threshold fires `onDrift`, the signal to
    *                      schedule a [[graft.operators.Similarity.rebuildIvfIndex]]
    *                      (see IvfProbeConfig for the 100 TB cost knobs)
    * @param codebooksDir  set ⇒ the index is IVF+PQ: ticks ENCODE each
    *                      batch map-side under the frozen PQ codebooks
    *                      at this path and the postings carry `code`
    *                      ([[graft.operators.Similarity.seedIvfPqStore]]
    *                      seeds it; searches go through
    *                      `searchIvfPqStore`); quantizer staleness then
    *                      rebuilds via `rebuildIvfPqIndex`, which
    *                      re-encodes everything
    * @param byIdDir       set ⇒ ticks also mirror into the id-bucketed
    *                      (vec_id, v, norm) SIDECAR at this path — the
    *                      row store `hardNegativesFromIndexes` reads
    *                      id-pruned (r14; seed with
    *                      [[graft.operators.Retrieval.seedVecSidecar]]);
    *                      sidecar applies before the main store (main
    *                      marker = commit point), deletes tombstone by
    *                      id directly (no before-image needed — the
    *                      bucket IS the id)
    */
  def startIvfMaintain(vecs: DataFrame, storeDir: String, centroidsDir: String,
                       checkpointDir: String, nlist: Int = -1,
                       probe: Option[graft.operators.Similarity.IvfProbeConfig] = None,
                       codebooksDir: Option[String] = None,
                       byIdDir: Option[String] = None): StreamingQuery = {
    // optional CDC op column: "delete" rows are tombstones and
    // must carry the INDEXED (before-image) embedding — see
    // Similarity.ivfAppendTick; a re-embed is delete + upsert in
    // one batch. An OP-LESS stream is strictly append-only (new
    // vec_ids by contract — the banded stores' key-purity rule):
    // its ticks take the O(delta) append path, which stacks rows
    // without keyed replacement, so a re-sent vec_id would
    // coexist as a duplicate. Re-embeds MUST arrive as CDC
    // delete+upsert; "insert" below names that contract.
    val hasOp = vecs.columns.contains("op")
    Maintainer.start(vecs, checkpointDir, Seq(storeDir) ++ byIdDir, Some(storeDir)) { batch =>
      graft.functions.VectorFunctions.register(batch.sparkSession)
      batch
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          (if (hasOp) col("op") else lit("insert")).as("op"))
        .distinct()
        .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    } { (b, batchId, _) =>
      val spark = b.sparkSession
      val cents = graft.operators.Similarity.loadCentroids(spark, centroidsDir)
      // nlist ≤ 0: the centroid artifact is the bucket contract
      val nl = if (nlist > 0) nlist else cents.size
      val ups = b.filter(col("op").isin("upsert", "insert")).drop("op")
      val removed =
        if (hasOp) Some(b.filter(col("op") === "delete").drop("op")) else None
      // optional id-bucketed (vec_id, v, norm) SIDECAR mirror —
      // the row store hard-negative mining reads id-pruned (r14;
      // seed with Retrieval.seedVecSidecar). Applies BEFORE the
      // main store so the main marker stays the batch's commit
      // point (the r14 commit-store rule); a crash in between
      // replays, the sidecar skipping on its own marker.
      byIdDir.foreach(graft.operators.Retrieval.vecSidecarTick(spark, _, ups, removed, batchId))
      codebooksDir match {
        case Some(bd) =>
          graft.operators.Similarity.ivfPqAppendTick(spark, storeDir, cents,
            graft.operators.Similarity.loadCodebooks(spark, bd),
            ups, batchId, nl, removedVectors = removed)
        case None =>
          graft.operators.Similarity.ivfAppendTick(spark, storeDir, cents,
            ups, batchId, nl, removedVectors = removed)
      }
      probe.filter(p => batchId % p.everyNTicks.max(1) == 0).foreach { p =>
        // probe queries = a deterministic hash-sample of THIS
        // tick's upserts: freshly landed vectors are where frozen-
        // quantizer drift shows first (the indexed backlog was
        // either seeded under this quantizer or already probed)
        val qs = ups
          .orderBy(md5(col("vec_id").cast("string"))).limit(p.sample)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm"))
        val r = graft.operators.Similarity.ivfRecallProbe(spark, storeDir,
          cents, qs, p.k, probeWidth(p, nl), nl, p.threshold, p.corpusFraction)
        log.info(s"$storeDir batch=$batchId $r")
        if (r.tripped) {
          log.warn(s"$storeDir batch=$batchId RECALL DRIFT: $r — " +
            "schedule a rebuildIvfIndex (versioned-root cutover)")
          p.onDrift(batchId, r)
        }
      }
      // corpus-sample probe: the tick sample above sees fresh-data
      // drift, but damage to OLD vectors' neighborhoods (a past
      // tick's mass straddling a stale quantizer boundary) is
      // invisible to it — this rarer probe draws its queries
      // hash-uniformly from the WHOLE store instead
      probe.filter(p => p.corpusSample > 0 && p.corpusEveryNTicks > 0 &&
          batchId % p.corpusEveryNTicks == 0).foreach { p =>
        val qs = BucketStore.readAll(spark, storeDir)
          .orderBy(md5(col("vec_id").cast("string"))).limit(p.corpusSample)
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("norm").as("qnorm"))
        val r = graft.operators.Similarity.ivfRecallProbe(spark, storeDir,
          cents, qs, p.k, probeWidth(p, nl), nl, p.threshold, p.corpusFraction)
        log.info(s"$storeDir batch=$batchId corpus-probe $r")
        if (r.tripped) {
          log.warn(s"$storeDir batch=$batchId CORPUS RECALL DRIFT: $r — " +
            "schedule a rebuildIvfIndex (versioned-root cutover)")
          p.onDrift(batchId, r)
        }
      }
    }
  }

  /** Continuous maintainer for the PERSISTED BM25 index
    * (`text_bm25_store`'s store) — the rung that completes the
    * retrieval family's batch → inc → store → streaming ladder: each
    * micro-batch of (doc_id, text) rows appends its dl-denormalized
    * postings plus one corpus-stats partial as stacked O(delta)
    * generations through
    * [[graft.operators.Retrieval.appendBm25Tick]] (stats tick
    * BEFORE the postings marker — the verdict-log ordering; the
    * postings marker is the commit store [[Maintainer.start]] guards
    * on, and a replay after a crash between the two skips the stats
    * half on its own marker; the store's `maxLiveGenerations` fold
    * amortizes compaction across ticks).
    * Streams WITHOUT an `op` column are append-only ingest (new
    * doc_ids — the O(delta) fast path); a stream WITH (op, doc_id,
    * text, text_before) columns is a CDC feed and every batch routes
    * through [[graft.operators.Retrieval.cdcBm25Tick]] — deletes and
    * re-ingests tombstone their before-image postings through one
    * merge tick (the `startIvfMaintain` op-column convention). Don't
    * put an op column on a pure-insert stream: CDC batches pay the
    * merge tick's touched-bucket re-merge. Searches against the live
    * index keep BucketStore's snapshot isolation while it grows.
    * Seed with
    * [[graft.operators.Retrieval.buildBm25Index]]; RetrievalSpec
    * pins streamed ticks ≡ one-shot full-corpus build.
    */
  def startBm25Maintain(docs: DataFrame, indexDir: String,
                        checkpointDir: String): StreamingQuery = {
    val postings = s"$indexDir/postings"
    val isCdc = docs.columns.contains("op")
    Maintainer.start(docs, checkpointDir, Seq(postings, s"$indexDir/stats"),
        Some(postings))(docBatch) { (b, batchId, _) =>
      if (isCdc) graft.operators.Retrieval.cdcBm25Tick(b.sparkSession, indexDir, b, batchId)
      else graft.operators.Retrieval.appendBm25Tick(b.sparkSession, indexDir, b, batchId)
    }
  }

  /** Continuous SEMANTIC dedup (the streaming rung of
    * `dedup_semantic` — see [[graft.operators.Similarity.semanticDedupOn]]):
    * each micro-batch of (vec_id, embedding) rows is assigned
    * map-side under the FROZEN quantizer at `centroidsDir`, verdicted
    * against the touched clusters of the seen-vector store (bucket
    * pruning — the landed corpus never re-pairs), appended through
    * the generation-publish protocol, and the per-batch verdicts
    * (vec_id, cluster, keep) land at `verdictsDir/batch=<id>` as the
    * decision log (`spark.read.parquet(verdictsDir)` is the
    * cumulative view). BREAKING vs the pre-r11 flat-append layout:
    * verdicts now land under `batch=<id>` subdirectories, and Spark's
    * partition discovery rejects a dir mixing flat data files with
    * partition dirs — point an upgraded maintainer at a FRESH
    * verdictsDir (or move legacy flat files into a `batch=-1/`
    * subdir, which reads as one more partition of the same log).
    * The verdict write happens INSIDE the tick,
    * BEFORE the store marker moves — the pair-log convention:
    * "marker advanced" ⇒ the whole tick, verdicts included, landed;
    * a crash in between replays idempotently (the batch-named
    * overwrite rewrites identical content). Seed with
    * [[graft.operators.Similarity.seedSemanticStore]]; quantizer
    * staleness is the IVF family's problem shape — see
    * `SemanticProbeConfig`: the `probe` policy measures keeper
    * recall per tick and fires `onDrift` below the floor, the signal
    * to run [[graft.operators.Similarity.rebuildSemanticIndex]]'s
    * versioned-root cutover. Replay guard: the store marker gates
    * the tick, and because the verdict write precedes the marker, a
    * redelivered batch (marker ≥ id) skips both.
    *
    * Streams WITHOUT an `op` column are append-only ingest (new
    * vec_ids by contract — the O(delta) append tick); a stream WITH
    * (op, vec_id, embedding) columns is a CDC feed routed through
    * [[graft.operators.Similarity.semanticDedupCdcTick]] — the
    * `startIvfMaintain` op convention (op ∈ 'upsert'|'delete',
    * deletes carry the INDEXED before-image embedding, a re-embed is
    * delete+upsert in one batch). CDC closes the family's dead-keeper
    * hazard: a tombstoned vector leaves its cluster bucket, so it can
    * never again suppress a live re-ingest through the lower-id
    * keeper rule. The drift probe runs on append batches only (CDC
    * deletes are before-images, not fresh data).
    */
  def startSemanticDedupMaintain(vecs: DataFrame, storeDir: String,
      centroidsDir: String, verdictsDir: String, checkpointDir: String,
      threshold: Double = 0.92, nlist: Int = -1,
      probe: Option[graft.operators.Similarity.SemanticProbeConfig] = None): StreamingQuery = {
    val isCdc = vecs.columns.contains("op")
    Maintainer.start(vecs, checkpointDir, Seq(storeDir), Some(storeDir)) { batch =>
      batch.select(((if (isCdc) Seq(col("op")) else Seq.empty) ++
        Seq(col("vec_id"), col("embedding").cast("array<double>").as("v"))): _*).distinct()
    } { (b, batchId, _) =>
      val spark = b.sparkSession
      val cents = graft.operators.Similarity.loadCentroids(spark, centroidsDir)
      // nlist ≤ 0: the quantizer artifact IS the bucket contract
      val nl = if (nlist > 0) nlist else cents.size
      // the tick returns its verdicts cached; they are already in the
      // log, so release them here
      (if (isCdc)
        graft.operators.Similarity.semanticDedupCdcTick(spark, storeDir,
          cents, b, threshold, nl, batchId, verdictsDir = Some(verdictsDir))
      else
        graft.operators.Similarity.semanticDedupTick(spark, storeDir, cents,
          b, threshold, nl, batchId, verdictsDir = Some(verdictsDir))).unpersist()
      // keeper-recall drift probe over a hash-sample of THIS
      // tick's vectors — fresh data is where frozen-quantizer
      // drift shows first (the startIvfMaintain convention);
      // append batches only (CDC deletes carry before-images)
      probe.filter(p => !isCdc && batchId % p.everyNTicks.max(1) == 0).foreach { p =>
        val qs = b.orderBy(md5(col("vec_id").cast("string"))).limit(p.sample)
          .select(col("vec_id"), col("v"))
        val r = graft.operators.Similarity.semanticDriftProbe(spark,
          storeDir, cents, qs, threshold, p.floor, p.corpusFraction)
        log.info(s"$storeDir batch=$batchId $r")
        if (r.tripped) {
          log.warn(s"$storeDir batch=$batchId KEEPER-RECALL DRIFT: $r — " +
            "schedule a rebuildSemanticIndex (versioned-root cutover)")
          p.onDrift(batchId, r)
        }
      }
    }
  }
}
