package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Bucket-partitioned parquet store for the streaming materialized
  * views — the layout that makes a maintenance tick O(delta) in I/O,
  * not just in compute.
  *
  * Data lives in per-tick GENERATION directories,
  * `gen-<batchId>/bucket=<i>/part-*.parquet`, and the live state is a
  * MANIFEST mapping each bucket to the generationS that hold its live
  * rows (oldest first; a MERGE tick collapses a bucket to one
  * generation, an APPEND tick stacks one more, a REPLACE tick publishes
  * one generation as the whole store — see [[applyTick]] /
  * [[applyAppendTick]] / [[applyReplaceTick]], which share one publish
  * step). The current manifest is named by the
  * applied-batch marker, so a reader resolves (marker → manifest →
  * exact file paths) one consistent snapshot. Because the bucket is a
  * pure function of the key (`pmod(pk, n)` for long keys, an
  * md5-prefix mod for hash keys), a tick knows — from its changed
  * rows alone — exactly which buckets it touches, and:
  *
  *  - the merge READ resolves only those buckets' paths from the
  *    manifest (untouched buckets are never opened),
  *  - the WRITE produces one new generation holding ONLY the touched
  *    buckets' merged rows; untouched buckets keep their existing
  *    files, byte-identical, in whatever generation(s) last wrote
  *    them,
  *  - a bucket the tick EMPTIES simply drops out of the new manifest —
  *    tombstones need no directory deletion at publish time.
  *
  * '''Append ticks — true O(delta) writes.''' [[applyTick]]'s merge
  * semantics must READ every touched bucket to carry unchanged rows
  * over, so a delta whose keys spread across all buckets (a text
  * delta's token vocabulary, the r12 BM25 finding) degenerates to an
  * amortized full-store rewrite per tick. [[applyAppendTick]] is the
  * LSM answer for stores whose keys are append-only (new keys per
  * tick by contract): it writes the delta rows as one generation and
  * publishes a manifest where each touched bucket gains that
  * generation ON TOP of its existing ones — zero reads, zero
  * carry-over, tick bytes ∝ delta. Readers union a bucket's
  * generations (disjoint keys by the append-only contract, so union
  * IS the merge); the live-generation bound then triggers the
  * existing fold, which becomes exactly the deferred COMPACTOR the
  * LSM analogy named: one amortized full rewrite every
  * ~`maxLiveGenerations` ticks, instead of one per tick.
  *
  * This is the plain-parquet equivalent of a Delta/Iceberg MERGE into
  * a bucketed table: at 100 TB a 15-minute tick cadence must not
  * rewrite a multi-TB store to apply a few thousand changed rows —
  * with `n` buckets the rewrite is ~`touched/n` of the store, and
  * `touched` is bounded by the tick's changed-row count. Generation
  * sprawl is bounded too: a tick auto-compacts the store into one
  * generation whenever the live state spans
  * [[DefaultMaxLiveGenerations]] of them (see [[applyTick]]).
  *
  * The bucket count is part of the on-disk contract: [[seed]] records
  * it (plus the key kind) in a `_graft_store_meta` file and every
  * pruned read / tick apply asserts the caller's count against it —
  * a mismatched count would silently prune to the wrong buckets
  * (a changed key's old row surviving in its old bucket while the new
  * row lands in another), so it fails fast instead.
  *
  * '''Filesystem contract.''' All store I/O — parquet data AND the
  * marker/manifest metadata — goes through the Hadoop `FileSystem`
  * resolved from the store path, so the store runs wherever Spark can
  * write: local disk, a POSIX-mounted shared FS, HDFS, or an object
  * store via its Hadoop connector (s3a://, gs://, abfs://). The
  * publish path uses NO renames at all — a tick writes its generation
  * dir, writes its manifest, then overwrites the one small marker
  * file — so object stores get the same atomicity story as HDFS: the
  * marker PUT is the single publish point.
  *
  * '''Concurrency: single writer, snapshot-isolated readers.''' One
  * maintainer owns a store (the streaming foreachBatch serializes
  * ticks). Readers resolve the marker once and from then on touch only
  * immutable generation files, so a concurrent tick can never show
  * them a torn view. Generations stay on disk until they are
  * unreferenced by BOTH the current and the previous manifest
  * ([[RetainManifests]]), so a reader's snapshot remains fully
  * readable while at most one tick publishes under it; a reader that
  * lags further can hit deleted files — a clean read error, never
  * silently mixed data.
  *
  * '''Writer fencing.''' The single-writer contract is additionally
  * ENFORCED, not just documented: every marker publish embeds a fresh
  * fence token, every tick snapshots the raw marker at entry, and
  * requires it unchanged immediately before its generation write and
  * again before its publish. Two maintainers accidentally pointed at
  * the same store (a real operational hazard at scale) therefore
  * cannot silently last-writer-win the marker and drop a tick: the
  * first to publish wins, the second fails LOUDLY at its fence check
  * and its orphaned generation is swept by the next tick's gc. This is
  * detection, not a distributed lock — the Hadoop FileSystem API has
  * no portable compare-and-swap, so two writers racing the same
  * instant can still interleave inside the check→PUT window — but it
  * shrinks the silent-loss window from an entire tick's wall-clock to
  * microseconds and turns every observed conflict into an exception
  * an operator sees.
  *
  * Crash safety is roll-BACK + replay: the marker moves only after the
  * generation dir and manifest are complete, so a crash anywhere
  * earlier leaves the live snapshot untouched and orphans invisible to
  * readers. [[recover]] deletes generations and manifests newer than
  * the marker; the at-least-once source then redelivers the batch
  * ([[appliedBatchId]] guard admits it — the marker never moved) and
  * the tick recomputes into the same generation name idempotently.
  */
private[graft] object BucketStore {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.streaming.BucketStore")

  val BucketCol = "bucket"

  /** Default bucket count. Tests and local runs spread a handful of
    * keys into distinct buckets; production tunes per store size
    * (target: one bucket ≈ a few compaction-friendly files).
    */
  val DefaultBuckets = 64

  /** Manifests (and the generations they reference) retained beyond
    * the current one — the reader-isolation window: a snapshot stays
    * fully readable while at most `RetainManifests - 1` ticks publish
    * after it was resolved.
    */
  val RetainManifests = 2

  /** Live-generation bound before a tick auto-compacts (see
    * [[applyTick]]): once the previous manifest references this many
    * distinct generations, the next tick folds the whole store into
    * its own generation. Bounds live generations (and with them the
    * manifest fan-out and the paths a read lists) at a constant; one
    * amortized full rewrite every ~`DefaultMaxLiveGenerations` ticks
    * is the LSM trade. It bounds files per bucket too: every
    * generation holds one file per bucket (see [[writeGeneration]]), so
    * a bucket's file count is the number of live generations that list
    * it — at most this bound, and one right after a fold.
    */
  val DefaultMaxLiveGenerations = 8

  private val Marker = "_graft_applied_batch"
  private val LeaseFile = "_graft_writer_lease"
  private val MetaFile = "_graft_store_meta"
  private val SchemaFile = "_graft_schema"
  private val ManifestPrefix = "_graft_manifest_"
  private val GenPrefix = "gen-"
  private val SeedGen = GenPrefix + "base"

  /** Key kind recorded in the store meta (forensics; the count is the
    * asserted part of the contract).
    */
  val KindLong = "long"
  val KindMd5 = "md5"

  /** What one [[applyTick]] did — the per-tick observability a
    * continuous maintainer logs (and an operator alerts on: touched
    * creeping toward `n` means the delta's key spread defeats bucket
    * pruning; `compacted` cadence tracks the amortized rewrite cost).
    * All fields are free — no extra actions are run to fill them.
    *
    * @param applied         false = replay guard skipped the batch
    * @param touchedBuckets  buckets this tick read + rewrote (0 for
    *                        an all-duplicate no-op that only advanced
    *                        the marker). On a COMPACTING tick — merge
    *                        or append — this is every live bucket the
    *                        fold rewrote, not the delta's touched set,
    *                        so a monitor alerting on "touched creeping
    *                        toward n" sees a one-tick spike per fold
    *                        (pair it with `compacted` to tell the two
    *                        apart).
    * @param compacted       this tick folded the whole store into its
    *                        generation (see `maxLiveGenerations`)
    * @param liveGenerations distinct generations the published
    *                        manifest references (1 right after a
    *                        compaction or re-seed)
    */
  case class TickStats(batchId: Long, applied: Boolean, touchedBuckets: Int,
                       compacted: Boolean, liveGenerations: Int) {
    override def toString: String =
      s"tick[batch=$batchId applied=$applied touched=$touchedBuckets " +
        s"compacted=$compacted liveGens=$liveGenerations]"
  }

  /** Opt-in writer LEASE for [[applyTick]] — a real mutex where the
    * filesystem supports one, on top of the always-on fencing.
    *
    * `FileSystem.create(path, overwrite = false)` is an ATOMIC
    * create-exclusive on HDFS-like filesystems (HDFS, POSIX local):
    * of two writers racing the lease file, exactly one create
    * succeeds, so the loser is blocked at ENTRY — before it reads a
    * manifest, computes a merge, or writes an orphan generation —
    * instead of at the publish-time fence. On object stores whose
    * Hadoop connector does not implement exclusive create atomically,
    * the lease degrades to advisory and the fence remains the
    * enforcement (which is why the fence checks stay on even under a
    * lease).
    *
    * The TTL bounds a crashed holder: an expired lease is reclaimed
    * (re-read immediately before delete so a FRESH lease is never
    * deleted, then one more exclusive create decides the winner —
    * the reclaim path retains a tiny delete-window, the healthy path
    * none). `writerId` makes re-acquisition by the same writer (crash
    * + restart with a durable id) idempotent.
    */
  case class WriterLease(writerId: String = java.util.UUID.randomUUID().toString,
                         ttlMs: Long = 10 * 60 * 1000L)

  private def readLease(fs: FileSystem, lp: HPath): Option[(String, Long)] =
    try readSmall(fs, lp).flatMap { s =>
      val lines = s.linesIterator.toSeq
      for {
        h <- lines.headOption.map(_.trim).filter(_.nonEmpty)
        e <- lines.lift(1).flatMap(x => scala.util.Try(x.trim.toLong).toOption)
      } yield (h, e)
    } catch { case _: java.io.IOException => None }

  private[graft] def acquireLease(dir: String, lease: WriterLease): Unit = {
    val (fs, p) = fsFor(dir)
    val lp = new HPath(p, LeaseFile)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lp, false) // overwrite=false: create-exclusive
        try out.write(
          s"${lease.writerId}\n${System.currentTimeMillis() + lease.ttlMs}".getBytes("UTF-8"))
        finally out.close()
        // read-back: the expiry-reclaim path can delete-and-recreate
        // concurrently; the holder named by the FILE holds the lease,
        // not whoever's create call returned
        readLease(fs, lp).exists(_._1 == lease.writerId)
      } catch { case _: java.io.IOException => false }
    if (tryCreate()) return
    readLease(fs, lp) match {
      case Some((holder, _)) if holder == lease.writerId =>
        () // already ours (restart with a durable writer id)
      case Some((holder, expiry)) if expiry >= System.currentTimeMillis() =>
        throw new ConcurrentWriterException(
          s"$dir: writer lease held by another maintainer ($holder, expires " +
            s"${java.time.Instant.ofEpochMilli(expiry)}) — refusing to enter applyTick")
      case _ =>
        // expired (crashed holder) or vanished mid-race: reclaim —
        // re-read right before delete so a fresh lease is never
        // deleted, then one more exclusive create decides
        readLease(fs, lp).foreach { case (_, exp) =>
          if (exp < System.currentTimeMillis()) { fs.delete(lp, false); () }
        }
        if (!tryCreate())
          throw new ConcurrentWriterException(
            s"$dir: writer lease contention during expiry reclaim — " +
              "another maintainer won; refusing to enter applyTick")
    }
  }

  private[graft] def releaseLease(dir: String, lease: WriterLease): Unit = {
    val (fs, p) = fsFor(dir)
    val lp = new HPath(p, LeaseFile)
    if (readLease(fs, lp).exists(_._1 == lease.writerId)) { fs.delete(lp, false); () }
  }

  /** Scale-derived bucket count for a seed over `rows` keyed rows:
    * ~4k rows per bucket, next power of two, clamped to [64, 65536] —
    * the deriveIvfNlist discipline applied to the layout knob. A
    * FIXED count makes each bucket rows/n-sized: at the 64 default a
    * 100 TB store's CDC merge ticks rewrite terabyte-scale touched
    * buckets and pruned reads lose granularity, which is why the 1M-
    * doc scale run hand-picked 256 (= what this derives at 1M) while
    * default-knob users kept 64. Test corpora (≤ 256k rows) derive
    * the historical 64, so existing layouts and specs are unchanged.
    * The derived count freezes into the store's meta file at seed
    * time; ticks and maintainers recover it via [[seededBuckets]]
    * (and a mismatched explicit count still fails loudly on every
    * pruned read/apply).
    */
  def deriveBuckets(rows: Long): Int = {
    var p = 64L
    val target = (rows + 3999L) / 4000L
    while (p < target && p < 65536L) p <<= 1
    p.toInt
  }

  /** The bucket count a store was seeded with, from its meta file —
    * the recovery path for maintainers/ticks handed `n ≤ 0` (the
    * artifact-is-the-contract rule: an operator-typed count that
    * mismatched the seed would bucket rows into the wrong dirs; this
    * cannot).
    */
  def seededBuckets(dir: String): Int =
    metaBuckets(dir).getOrElse(throw new IllegalStateException(
      s"store $dir has no meta file — cannot recover its bucket count"))

  /** The bucket count in a store's meta file; None where no store was
    * seeded.
    */
  private[graft] def metaBuckets(dir: String): Option[Int] = {
    val (fs, p) = fsFor(dir)
    readSmall(fs, new HPath(p, MetaFile))
      .flatMap(_.split("\n").find(_.startsWith("n="))
        .map(_.stripPrefix("n=").trim.toInt))
  }

  /** Bucket of a non-negative long key. */
  def longBucket(pk: Column, n: Int): Column = pmod(pk, lit(n)).cast("int")

  /** Bucket of a hex-digest key (e.g. md5): first 4 hex chars mod n —
    * uniform because the digest is.
    */
  def md5Bucket(digest: Column, n: Int): Column =
    pmod(conv(substring(digest, 1, 4), 16, 10).cast("long"), lit(n)).cast("int")

  /** Seed (or fully rebuild) a store: `df` + derived bucket column,
    * written Hive-partitioned into the base generation, plus the meta
    * file recording the bucket count `n` (and key `kind`) the bucket
    * expression used, plus the seed manifest under marker id -1. The
    * SAME bucket expression must be used by every later tick — the
    * count half of that contract is asserted on every pruned read and
    * apply.
    */
  def seed(df: DataFrame, bucket: Column, dir: String, n: Int,
           kind: String = KindLong): Unit = {
    val (fs, p) = fsFor(dir)
    fs.delete(p, true)
    val bucketed = df.withColumn(BucketCol, bucket)
    writeGeneration(bucketed, s"$dir/$SeedGen")
    writeSmall(fs, new HPath(p, MetaFile), s"n=$n\nkind=$kind\n")
    // the store's schema, durable beyond any data file: once every row
    // is tombstoned and gc reclaims the last generation (including the
    // seed's), empty reads and the next tick's merge still need a
    // schema to serve — see selectOrEmpty
    writeSmall(fs, new HPath(p, SchemaFile), bucketed.schema.json)
    // the recorded schema is the store's schema FOREVER: selectPaths
    // reads every later generation with it, so a tick that wrote
    // different columns would be silently masked (extras dropped,
    // missing read as null) rather than surfaced by footer inference.
    // Ticks must append/merge frames of the seed schema — pinned by
    // BucketStoreSpec ("generation footers match the recorded schema").
    writeManifest(fs, p, -1L,
      presentBuckets(s"$dir/$SeedGen").toSeq.sorted.map(_ -> Seq(SeedGen)))
  }

  /** Full store read at the CURRENT snapshot, bucket column dropped
    * (storage concern only). The snapshot is resolved once, here;
    * the returned frame touches only immutable generation files.
    */
  def readAll(spark: SparkSession, dir: String): DataFrame =
    resolve(spark, dir, None).drop(BucketCol)

  /** Time-travel read: the snapshot AS OF `batchId`'s publish. Only
    * snapshots inside the retention window ([[RetainManifests]]: the
    * current and previous manifest) are guaranteed resolvable — gc
    * reclaims older ones, and asking for them fails loudly here
    * rather than returning a silently empty store. The debugging /
    * audit twin of the implicit isolation readers already get: "what
    * did the view hold before this tick" is one call, not a dig
    * through generation dirs.
    */
  def readAt(spark: SparkSession, dir: String, batchId: Long): DataFrame = {
    val (fs, p) = fsFor(dir)
    val m = readManifest(fs, p, batchId)
    require(m.nonEmpty || fs.exists(new HPath(p, ManifestPrefix + batchId)),
      s"store $dir has no retained manifest for batch $batchId " +
        s"(retention window: current + previous tick)")
    selectOrEmpty(spark, dir, m, m, withBucket = false).drop(BucketCol)
  }

  /** Pruned read of only the named buckets — the manifest resolves
    * them to exact generation paths; untouched buckets are never
    * opened. `n` is the caller's bucket count, asserted against the
    * store meta: bucket ids computed with a different count would
    * prune to the wrong buckets.
    */
  def readBuckets(spark: SparkSession, dir: String, buckets: Seq[Int],
                  n: Int): DataFrame = {
    requireBucketCount(dir, n)
    resolve(spark, dir, Some(buckets)).drop(BucketCol)
  }

  /** Distinct bucket ids of a single-column `bucket` frame. The
    * collect is bounded by the store's bucket count (≤ n small ints),
    * never by data volume — the one sanctioned driver pull here.
    */
  def touchedBuckets(bucketsOnly: DataFrame): Seq[Int] =
    bucketsOnly.distinct().collect().map(_.getInt(0)).toSeq

  /** Touched buckets AND total row count in ONE job (r17, guide §1.2
    * "don't compute things you throw away" applied to job count): the
    * merge tick used to pay two full delta passes for two facts the
    * same aggregation yields — a `distinct` for the touched-bucket
    * list, then the broadcast gate's `count()`. One
    * `groupBy(bucket).count()` produces both; the collect stays
    * bounded by the store's bucket count (≤ n rows of (int, long)),
    * the same driver-pull bound as [[touchedBuckets]]. Package-visible
    * so tick CALLERS with the same two needs (a pruned read's bucket
    * list + a delta broadcast gate) fuse their passes too.
    */
  private[graft] def touchedBucketStats(bucketsOnly: DataFrame): (Seq[Int], Long) = {
    val rows = bucketsOnly.groupBy(col(BucketCol)).count().collect()
    (rows.map(_.getInt(0)).toSeq, rows.map(_.getLong(1)).sum)
  }

  /** A merge tick's delta-key summary, supplied by a caller that
    * already holds it (see [[applyTick]]'s `keys`): the buckets the
    * tick touches, a frame of the delta's keys (`keyCols` only) and
    * that frame's row count. The caller's invariant: the key SET of
    * `dropKeys` is the key set of `changes ∪ removed` — every delta
    * key resolves to exactly one surviving or tombstoned row — so
    * `touched` is what [[touchedBucketStats]] over `changes ∪
    * removed` would return. `dropKeys` may repeat a key (it only
    * feeds the carry-over anti join), so `keyRows` bounds the
    * distinct count from above; it only gates the broadcast. The
    * generation write reads `dropKeys`, so it should be cheap to
    * re-read (a projection of a cached frame).
    */
  private[graft] case class TickKeys(touched: Seq[Int], keyRows: Long, dropKeys: DataFrame)

  /** Apply one tick: `changes` is the post-merge state of every
    * touched key (bucket column included); `removed` optionally names
    * keys whose post-merge state is GONE (CDC tombstones — bucket
    * column included). Reads the touched buckets' current rows,
    * carries over rows the tick neither changed nor removed, writes
    * the merged touched buckets as generation `gen-<batchId>`, and
    * publishes manifest + marker. A bucket the tick emptied simply
    * has no rows in the new generation and drops out of the manifest.
    * Skips (and is a no-op) when `batchId` was already applied — the
    * caller should still guard on [[appliedBatchId]] to skip its
    * merge compute too. `n` is the caller's bucket count, asserted
    * against the store meta before anything is read or written.
    *
    * '''Compaction.''' Each tick adds one generation holding only its
    * touched buckets, so without housekeeping a long-lived store
    * scatters its live state across up to min(ticks, n) generations —
    * unbounded small-file and listing growth at a continuous tick
    * cadence. LSM-style, a tick whose PREVIOUS manifest already
    * references `maxLiveGenerations` distinct generations widens its
    * touched set to every live bucket and folds the whole store into
    * its own generation: one amortized full rewrite every ~`maxLive`
    * ticks bounds live generations at a constant, with zero protocol
    * changes — the compacting tick publishes, recovers, and
    * snapshot-isolates exactly like any other, and older generations
    * age out through the normal retention gc. After the fold every
    * live bucket is one file in one generation. Callers that pin
    * untouched-bucket byte-identity across a tick must size
    * `maxLiveGenerations` above their tick count or account for the
    * fold.
    *
    * '''Caller-supplied key summary.''' Without `keys` the tick
    * derives its touched buckets, key-row count and drop-key set from
    * `changes ∪ removed` itself: both are cached and one stats pass
    * resolves them before the write. A caller that already holds
    * those facts (a CDC tick, whose batch keys each resolve to one
    * surviving or tombstoned row — see [[TickKeys]]) passes them as
    * `keys`; the tick then runs no stats pass, caches nothing and
    * ignores `removed` (the drop-key set already covers it), so the
    * plan behind `changes` runs exactly once, inside the generation
    * write. Publish protocol, fence, lease, compaction and gc are the
    * same on both paths.
    */
  def applyTick(spark: SparkSession, dir: String, changes: DataFrame,
                keyCols: Seq[String], batchId: Long, n: Int,
                removed: Option[DataFrame] = None,
                maxLiveGenerations: Int = DefaultMaxLiveGenerations,
                beforePublish: () => Unit = () => (),
                lease: Option[WriterLease] = None,
                keys: Option[TickKeys] = None): TickStats = {
    // with a caller's summary the delta is consumed once (by the
    // write), so there is nothing to cache. The frames are cached inside
    // the plan, which runs only after the replay check: a replayed batch
    // neither plans nor caches the delta (nor unpersists a caller's cache)
    val ownStats = keys.isEmpty
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def own(df: DataFrame): DataFrame = { cached += df.cache(); df }
    try publishTick(dir, batchId, n, beforePublish, lease) { prevManifest =>
      val ch = if (ownStats) own(changes) else changes
      val rm = if (ownStats) removed.map(own) else None
      // one delta pass yields the touched buckets AND the row count the
      // broadcast gate below needs. dropKeys projects the same ch ∪ rm
      // rows, so its size is that row count by construction
      val TickKeys(changed, deltaKeyRows, dropKeys) = keys.getOrElse {
        def project(cs: Seq[String]) = rm.map(r => ch.select(cs.map(col): _*)
            .unionByName(r.select(cs.map(col): _*)))
          .getOrElse(ch.select(cs.map(col): _*))
        val (buckets, rows) = touchedBucketStats(project(Seq(BucketCol)))
        TickKeys(buckets, rows, project(keyCols))
      }
      val compacting = liveGenCount(prevManifest) >= maxLiveGenerations
      // an all-duplicate tick changes nothing but must still advance
      // the marker, or the replay guard would re-run it forever
      if (changed.isEmpty && !compacting)
        TickPlan(None, _ => prevManifest, Some(0), compacted = false)
      else {
        val touched =
          if (compacting) (prevManifest.keySet ++ changed).toSeq else changed
        // the merge read unions ALL of a touched bucket's generations
        // (append ticks may have stacked several) — the merged write then
        // collapses those buckets back to one
        val old = selectOrEmpty(spark, dir, prevManifest,
          prevManifest.filter { case (b, _) => touched.contains(b) }, withBucket = true)
        // carry-over: touched-bucket rows the tick neither changed nor
        // removed. The changed-key side is delta-sized — size-gated
        // broadcast at the conservative (string-key) row cap, same
        // convention as every delta hint (Hints.broadcastIfSmall); the
        // gate reuses the stats row count instead of scheduling a second
        // counting job. The merged rows (carried ∪ changed) are clustered
        // by bucket in the generation write, so each touched bucket comes
        // out as one file.
        val deltaBroadcast =
          deltaKeyRows <= graft.operators.Hints.DeltaBroadcastMaxRowsMd5
        val merged = old
          .join(if (deltaBroadcast) broadcast(dropKeys) else dropKeys,
            keyCols, "left_anti")
          .unionByName(ch)
        // the write IS the materialisation, also of a caller's lazy
        // `changes` whose plan reads this store. That read cannot hit the
        // materialise-before-mutate hazard: the target gen-<batchId> is
        // never a live generation (prevManifest names only the seed's and
        // generations published at or before prevId < batchId), so the
        // overwrite deletes no file the plan reads, and gc runs only after
        // the write.
        // New manifest: touched buckets move (collapse) to this single
        // generation iff the write produced rows for them (emptied
        // buckets drop out); untouched buckets keep their previous
        // generation list
        val gen = GenPrefix + batchId
        TickPlan(Some(merged),
          written => (prevManifest -- touched) ++ written.map(_ -> Seq(gen)),
          Some(touched.size), compacted = compacting)
      }
    } finally cached.foreach(_.unpersist())
  }

  /** Apply one APPEND-ONLY tick: `appended` (bucket column included)
    * holds rows whose keys are NEW to the store — the caller's
    * contract; an existing key appended again would simply coexist
    * with its old row, exactly like inserting it twice. Under that
    * contract the tick needs NO carry-over read at all: the delta
    * rows are written as generation `gen-<batchId>` and the manifest
    * STACKS that generation onto each touched bucket's existing
    * list — tick I/O is O(delta rows), independent of store size
    * (the r12 verdict's top task: a text delta's vocabulary touches
    * ~every token bucket, so merge-tick carry-over degenerated to a
    * full-store rewrite per tick).
    *
    * Read-time cost is bounded by the SAME `maxLiveGenerations` knob:
    * once the live state spans that many generations, the next append
    * tick compacts — reads everything and publishes delta + store as
    * one [[applyReplaceTick]] generation (the amortized LSM rewrite,
    * now deferred instead of per-tick). Publish protocol (fence,
    * lease, marker, manifest, recovery, gc, replay guard) is every
    * tick's one publish step.
    *
    * `onCompact` generalizes the contract from disjoint-key appends
    * to MERGE-ON-READ reductions (the LSM memtable-flush shape): a
    * store may stack PARTIAL rows for one key (e.g. per-tick line
    * counts) as long as readers aggregate after reading and
    * `onCompact` applies the SAME reduction when the fold fires —
    * without it a hot key's partial rows would survive every
    * compaction and the store would grow with tick count, not key
    * count. The reduction must preserve the bucket column (group by
    * key AND bucket — keys hash to one bucket, so this adds nothing)
    * and must be associative/commutative over row groups (the fold
    * sees arbitrary generation boundaries). `None` (the default) is
    * the plain disjoint-key append.
    */
  def applyAppendTick(spark: SparkSession, dir: String, appended: DataFrame,
                      batchId: Long, n: Int,
                      maxLiveGenerations: Int = DefaultMaxLiveGenerations,
                      beforePublish: () => Unit = () => (),
                      lease: Option[WriterLease] = None,
                      onCompact: Option[DataFrame => DataFrame] = None): TickStats =
    publishTick(dir, batchId, n, beforePublish, lease) { prevManifest =>
      val gen = GenPrefix + batchId
      // r17: the delta's touched buckets are read off the written
      // generation's partition DIRS (a filesystem listing, free)
      // instead of a pre-write distinct over the delta — one less
      // scheduled delta pass per append tick. The delta is consumed
      // exactly once now, so it is not cached. An empty delta needs no
      // special casing either: an empty generation writes no bucket
      // dirs, the manifest update below degenerates to the previous
      // manifest unchanged, and the marker still advances (the replay
      // guard's requirement); the orphaned empty dir is swept by gc
      // once it leaves the retention window.
      if (liveGenCount(prevManifest) >= maxLiveGenerations) {
        // the fold (store ∪ delta, reduced by onCompact if given) is
        // clustered by bucket in the generation write like every other
        // tick's, so it leaves each live bucket as one file
        val folded = selectOrEmpty(spark, dir, prevManifest, prevManifest,
          withBucket = true).unionByName(appended)
        replacePlan(onCompact.fold(folded)(_(folded)), gen, compacted = true)
      } else TickPlan(Some(appended),
        written => prevManifest ++ written.map(b =>
          b -> (prevManifest.getOrElse(b, Seq.empty) :+ gen)),
        None, compacted = false)
    }

  /** Apply one REPLACE tick: `rows` (bucket column included) is the
    * store's whole new content. It is written as generation
    * `gen-<batchId>` and published by a manifest that names only that
    * generation's buckets, so a bucket absent from `rows` drops out and
    * every older generation ages out through the normal retention gc.
    * Nothing of the store is read. This is the publish of a periodic
    * full recompute (the retrain loop's recs): readers keep the
    * snapshot they resolved, a crash before the marker rolls back
    * through [[recover]], and a second writer fails at the fence —
    * the one publish step every tick shares. The stats report the
    * buckets written as touched; `compacted` stays false, since nothing
    * older was folded in.
    */
  def applyReplaceTick(dir: String, rows: DataFrame, batchId: Long, n: Int,
                       beforePublish: () => Unit = () => ()): TickStats =
    publishTick(dir, batchId, n, beforePublish, lease = None) { _ =>
      replacePlan(rows, GenPrefix + batchId, compacted = false)
    }

  /** What one tick publishes, planned against the previous manifest:
    * `out` (bucket column included) is written as `gen-<batchId>` —
    * None writes nothing and re-publishes under the new batch id, so
    * the marker still advances — and `manifest` maps the buckets that
    * write produced (none without one) to the new manifest. `touched`
    * and `compacted` fill the tick's [[TickStats]]; `touched` = None
    * reports the buckets written, a merge reports the buckets it planned.
    */
  private case class TickPlan(out: Option[DataFrame],
                              manifest: Set[Int] => Map[Int, Seq[String]],
                              touched: Option[Int], compacted: Boolean)

  /** A plan whose write is the whole live state: the new manifest
    * names only the buckets `out` produced.
    */
  private def replacePlan(out: DataFrame, gen: String, compacted: Boolean): TickPlan =
    TickPlan(Some(out), written => written.map(_ -> Seq(gen)).toMap, None, compacted)

  /** The one publish step under [[applyTick]], [[applyAppendTick]] and
    * [[applyReplaceTick]], in order: the replay no-op (a batch at or
    * below the marker), the bucket-count check, the opt-in lease, the
    * tick's `plan` against the previous manifest, a fence check before
    * the write (a writer that lost the store after the winner ALREADY
    * published aborts before it can clobber a same-named generation dir
    * the winner's manifest references — mode=overwrite deletes the dir
    * first), the write of `gen-<batchId>`, `beforePublish` (a
    * fault-injection seam: specs interleave a competing writer or a
    * crash there), the fence again, the manifest, the marker, gc and
    * the logged stats.
    *
    * Fence snapshot: the raw marker this tick's view of the store is
    * based on. Any publish by another writer changes it (the UUID on
    * line 2), and this tick then aborts at a fence check instead of
    * overwriting that writer's tick.
    */
  private def publishTick(dir: String, batchId: Long, n: Int, beforePublish: () => Unit,
                          lease: Option[WriterLease])(plan: Map[Int, Seq[String]] => TickPlan): TickStats = {
    val (prevId, fence0) = markerSnapshot(dir)
    if (prevId >= batchId)
      return TickStats(batchId, applied = false, touchedBuckets = 0,
        compacted = false, liveGenerations = 0)
    requireBucketCount(dir, n)
    // opt-in lease: where create-exclusive is atomic this blocks a
    // second maintainer HERE — before any manifest read, merge
    // compute, or orphan generation write (see WriterLease)
    lease.foreach(acquireLease(dir, _))
    try {
      val (fs, p) = fsFor(dir)
      val prevManifest = readManifest(fs, p, prevId)
      val tick = plan(prevManifest)
      val gen = GenPrefix + batchId
      val written = tick.out.fold(Set.empty[Int]) { out =>
        checkFence(dir, fence0, s"tick $batchId")
        writeGeneration(out, s"$dir/$gen")
        presentBuckets(s"$dir/$gen")
      }
      val newManifest = tick.manifest(written)
      beforePublish()
      checkFence(dir, fence0, s"tick $batchId")
      writeManifest(fs, p, batchId, newManifest.toSeq.sortBy(_._1))
      // the publish point: one small-file overwrite, no renames —
      // everything above is invisible to readers until this lands
      writeMarker(dir, batchId)
      gc(fs, p, dir, batchId)
      val st = TickStats(batchId, applied = true, touchedBuckets = tick.touched.getOrElse(written.size),
        compacted = tick.compacted, liveGenerations = liveGenCount(newManifest))
      log.info(s"$dir $st")
      st
    } finally lease.foreach(releaseLease(dir, _))
  }

  /** The one generation writer under [[seed]] and [[publishTick]]:
    * `out` (bucket column included) is clustered by bucket and written
    * Hive-partitioned into `genDir`, so every generation holds exactly
    * one file per bucket it lists — a bucket's file count is its
    * live-generation count, whatever the plan above the write (a
    * narrow probe over a multi-file scan would instead write one file
    * per scan task that meets the bucket). No `_SUCCESS` marker: the
    * store's own marker is the commit point, and nothing reads a
    * generation's.
    */
  private def writeGeneration(out: DataFrame, genDir: String): Unit =
    out.repartition(col(BucketCol))
      .write.partitionBy(BucketCol)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .mode("overwrite").parquet(genDir)

  /** Distinct generations the manifest's live state spans — the
    * compaction trigger and the bound on both the paths a read lists and a
    * bucket's generation-stack depth (a bucket's list is a subset of
    * the distinct set).
    */
  private def liveGenCount(m: Map[Int, Seq[String]]): Int =
    m.values.flatten.toSet.size

  /** Roll an interrupted tick BACK: generations and manifests newer
    * than the marker are leftovers of a crash before publish — the
    * live snapshot never included them; delete them and let the
    * source's replay recompute the batch (the [[appliedBatchId]]
    * guard admits it, and the generation write is idempotent). Call
    * before every tick and at startup.
    */
  def recover(dir: String): Unit = {
    val (fs, p) = fsFor(dir)
    if (!fs.exists(p)) return
    val applied = appliedBatchId(dir)
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(GenPrefix) && name != SeedGen &&
          genId(name).exists(_ > applied))
        fs.delete(st.getPath, true)
      else if (!st.isDirectory && name.startsWith(ManifestPrefix) &&
          scala.util.Try(name.stripPrefix(ManifestPrefix).toLong).toOption
            .exists(_ > applied))
        fs.delete(st.getPath, false)
    }
  }

  /** Batch id recorded in the store (-1 before the first tick) — the
    * name of the current manifest. The underscore-prefixed marker
    * file is invisible to Spark's readers.
    */
  def appliedBatchId(dir: String): Long = markerSnapshot(dir)._1

  /** Marker read as (batchId, raw content): the raw content is the
    * FENCE a tick must observe unchanged at publish time (the token on
    * line 2 makes every publish distinct even when batch ids repeat
    * across writers). `file` names another small file of the same
    * form under `dir` — the index rebuilds' version pointer
    * ([[graft.operators.Similarity.resolveIvfIndex]]) — which gets the
    * same read and the same [[checkFence]].
    *
    * The marker is overwritten in place (the atomic-PUT publish), and
    * on HDFS/POSIX an in-place overwrite can expose a momentarily
    * EMPTY file to a concurrent reader. A missing marker legitimately
    * means -1 (pre-first-tick), but unparseable content must NOT —
    * silently mapping it to -1 would void the replay guard (double
    * apply) or resolve a reader to the wrong manifest. So: retry the
    * glimpse briefly, then fail loudly.
    */
  private[graft] def markerSnapshot(dir: String, file: String = Marker): (Long, Option[String]) = {
    val (fs, p) = fsFor(dir)
    val mp = new HPath(p, file)
    var attempt = 0
    while (true) {
      readSmall(fs, mp) match {
        case None => return (-1L, None)
        case Some(s) =>
          scala.util.Try(s.linesIterator.next().trim.toLong).toOption match {
            case Some(id) => return (id, Some(s))
            case None =>
              attempt += 1
              require(attempt < 20,
                s"$mp unreadable after $attempt attempts (content ${s.length} bytes)")
              Thread.sleep(25)
          }
      }
    }
    (-1L, None) // unreachable
  }

  /** Loud-loser fence check: the raw `file` (the marker by default)
    * must still be exactly what this writer read at entry. Any change
    * means another `rival` published under it — abort `action` rather
    * than overwrite that publish.
    */
  private[graft] def checkFence(dir: String, fence0: Option[String], action: String,
                                rival: String = "maintainer", file: String = Marker): Unit = {
    val (fs, p) = fsFor(dir)
    val now = readSmall(fs, new HPath(p, file))
    if (now != fence0)
      throw new ConcurrentWriterException(
        s"$dir: $file changed while $action was running " +
          s"(expected ${fence0.map(_.linesIterator.mkString("/")).getOrElse("<absent>")}, " +
          s"found ${now.map(_.linesIterator.mkString("/")).getOrElse("<absent>")}) — " +
          s"another $rival published; $action aborts without publishing")
  }

  /** Thrown by a tick or an index rebuild when the fence check detects
    * a concurrent writer. Deliberately NOT an IllegalStateException subclass a
    * caller might blanket-swallow: losing a fence means two maintainers
    * are pointed at one store and an operator must intervene.
    */
  final class ConcurrentWriterException(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------------
  // snapshot resolution

  /** The current snapshot's bucket → generation-list map (marker read
    * once; the map references only immutable files). A published
    * marker whose manifest FILE is missing is a protocol violation
    * (torn store, or a reader lagging past the retention window) and
    * fails loudly — returning an empty map there would silently
    * present an empty store.
    */
  private def currentManifest(dir: String): Map[Int, Seq[String]] = {
    val (fs, p) = fsFor(dir)
    val id = appliedBatchId(dir)
    val m = readManifest(fs, p, id)
    if (m.isEmpty && id >= 0)
      require(fs.exists(new HPath(p, ManifestPrefix + id)),
        s"store $dir: marker names batch $id but its manifest is missing — " +
          "torn store or reader lagging past the retention window")
    m
  }

  /** Read the selected (or all) buckets of the current snapshot for a
    * public read: no bucket column is derived, and an empty selection's
    * frame may still carry one (callers drop it).
    */
  private def resolve(spark: SparkSession, dir: String,
                      buckets: Option[Seq[Int]]): DataFrame = {
    val m = currentManifest(dir)
    selectOrEmpty(spark, dir, m,
      buckets.map(bs => m.filter { case (b, _) => bs.contains(b) }).getOrElse(m),
      withBucket = false)
  }

  /** [[selectPaths]] that degrades to a SCHEMA-CORRECT empty frame
    * when the selection is empty (a pruned read of buckets the store
    * has never held — routine for a tick introducing brand-new
    * buckets): schema off any live bucket, else off the schema file
    * [[seed]] wrote. The schema file matters when the manifest itself
    * is empty: a store whose rows were ALL tombstoned keeps no data
    * files at all once gc reclaims its generations (the seed's
    * included), yet must stay readable and tick-able — without the
    * durable schema there would be no parquet footer left to serve
    * one, bricking the store. Stores seeded before the schema file
    * existed fall back to the seed generation's footer.
    */
  private def selectOrEmpty(spark: SparkSession, dir: String,
                            m: Map[Int, Seq[String]], sel: Map[Int, Seq[String]],
                            withBucket: Boolean): DataFrame =
    if (sel.nonEmpty) selectPaths(spark, dir, sel, withBucket)
    else if (m.nonEmpty) selectPaths(spark, dir, m.take(1), withBucket).limit(0)
    else storedSchema(dir) match {
      // nullable-relaxed exactly like selectPaths' reads, so an
      // empty-store read reports the same schema as a pruned read
      // (r17 ADVICE: the two paths disagreed on nullability)
      case Some(schema) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(
          schema.fields.map(_.copy(nullable = true))))
      case None => spark.read.parquet(s"$dir/$SeedGen").limit(0)
    }

  /** Schema recorded at [[seed]] time (None for pre-schema-file
    * stores).
    */
  private def storedSchema(dir: String): Option[org.apache.spark.sql.types.StructType] = {
    val (fs, p) = fsFor(dir)
    readSmall(fs, new HPath(p, SchemaFile)).map(s =>
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** One parquet relation over the selected buckets' exact paths,
    * `gen-<id>/bucket=<b>` for every generation the manifest lists per
    * bucket. A bucket with several live generations (append ticks)
    * contributes one path per generation — its rows are the UNION
    * across them (disjoint keys by the append-only contract). Each
    * path is read as its own root with no `basePath`, so partition
    * discovery infers nothing (a `basePath` of the store dir over the
    * `gen-*` dirs fails with CONFLICTING_DIRECTORY_STRUCTURES) and the
    * read carries the store schema minus `bucket`.
    *
    * One relation whatever the number of live generations: under AQE a
    * tick's semi or anti join pushed below a union of per-generation
    * relations plans one broadcast per copy, about two jobs for every
    * generation a read touches.
    *
    * `withBucket` restores the bucket column from each row's file path:
    * the `bucket=<b>` dir the file sits in, found as the LAST
    * `/bucket=` of the path (a file name holds no `/`), so a store root
    * under a `bucket=…` dir cannot match. It runs once per carried row,
    * so it is two substring searches, not a regex match. Only
    * the tick reads that write rows back ask for it: once `_metadata`
    * is referenced Spark keeps the whole struct in the scan even when
    * the column is dropped later, which slowed the public pruned read's
    * planning and scan, so [[readAll]], [[readBuckets]] and [[readAt]]
    * never reference it.
    *
    * r17: the reader is handed the schema [[seed]] recorded instead of
    * inferring it — a bare `spark.read.parquet` schedules a
    * footer-inference JOB, so every pruned read and merge tick paid a
    * scheduling round trip for a fact the store's own meta already
    * holds. Fields are declared nullable, exactly as Spark's parquet
    * reader declares footer-inferred schemas ("all columns are
    * automatically converted to be nullable for compatibility
    * reasons"), so the read frame is bit-identical to the inferred
    * one. A store seeded before the schema file existed takes its
    * schema once from one selected path's footer and reads the same
    * single relation.
    */
  private def selectPaths(spark: SparkSession, dir: String,
                          sel: Map[Int, Seq[String]], withBucket: Boolean): DataFrame = {
    val paths = sel.toSeq.sortBy(_._1).flatMap { case (b, gens) =>
      gens.map(g => s"$dir/$g/$BucketCol=$b")
    }
    val schema = storedSchema(dir)
      .map(s => org.apache.spark.sql.types.StructType(
        s.fields.filter(_.name != BucketCol).map(_.copy(nullable = true))))
      .getOrElse(spark.read.parquet(paths.head).schema)
    val rows = spark.read.schema(schema).parquet(paths: _*)
    if (withBucket)
      rows.withColumn(BucketCol,
        substring_index(substring_index(col("_metadata.file_path"), s"/$BucketCol=", -1),
          "/", 1).cast("int"))
    else rows
  }

  // ---------------------------------------------------------------
  // metadata I/O (all through the Hadoop FileSystem of the store path)

  /** Hadoop FileSystem + path for a store dir — resolved from the
    * path's scheme against the session's Hadoop conf, so file:/,
    * hdfs://, s3a:// etc. all route to the right implementation
    * (the same resolution Spark's own parquet writes use).
    */
  private[graft] def fsFor(dir: String): (FileSystem, HPath) = {
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())
    val p = new HPath(dir)
    (p.getFileSystem(conf), p)
  }

  private def genId(name: String): Option[Long] =
    scala.util.Try(name.stripPrefix(GenPrefix).toLong).toOption

  private[graft] def readSmall(fs: FileSystem, p: HPath): Option[String] =
    if (fs.exists(p)) {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var r = in.read(buf)
        while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
        Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } else None

  private[graft] def writeSmall(fs: FileSystem, p: HPath, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def requireBucketCount(dir: String, n: Int): Unit =
    metaBuckets(dir).foreach(declared => require(declared == n,
      s"bucket-count mismatch for store $dir: seeded with n=$declared, " +
        s"caller uses n=$n — a mismatched bucket fn would prune to the " +
        "wrong directories and silently duplicate keys"))

  /** Bucket ids present as partition dirs inside one generation. */
  private def presentBuckets(genDir: String): Set[Int] = {
    val (fs, p) = fsFor(genDir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(BucketCol + "="))
      .map(_.getPath.getName.stripPrefix(BucketCol + "=").toInt)
      .toSet
  }

  /** Publish: batch id on line 1 (what readers and the replay guard
    * parse), a fresh fence token on line 2 (what makes every publish
    * distinguishable to [[checkFence]], even a replay of the same
    * batch id by a different writer).
    */
  private def writeMarker(dir: String, batchId: Long): Unit = {
    val (fs, p) = fsFor(dir)
    writeSmall(fs, new HPath(p, Marker),
      s"$batchId\n${java.util.UUID.randomUUID()}")
  }

  /** Manifest line format: `bucket\tgen1,gen2,…` — the generation
    * list oldest-first (append ticks push onto the tail; merge and
    * compaction collapse to one element). Single-generation lines are
    * exactly the pre-multi-gen format, so old manifests parse
    * unchanged.
    */
  private def readManifest(fs: FileSystem, p: HPath, id: Long): Map[Int, Seq[String]] =
    readSmall(fs, new HPath(p, ManifestPrefix + id))
      .map(_.split("\n").filter(_.nonEmpty).map { line =>
        val Array(b, g) = line.split("\t", 2)
        b.toInt -> g.split(",").toSeq
      }.toMap)
      .getOrElse(Map.empty)

  private def writeManifest(fs: FileSystem, p: HPath, id: Long,
                            entries: Seq[(Int, Seq[String])]): Unit =
    writeSmall(fs, new HPath(p, ManifestPrefix + id),
      entries.map { case (b, gs) => s"$b\t${gs.mkString(",")}" }.mkString("\n"))

  /** Drop generations and manifests outside the retention window:
    * keep the [[RetainManifests]] newest manifests and every
    * generation any of them references — plus the current tick's own
    * generation (it may be empty and thus unreferenced). Runs after
    * publish; a crash mid-gc just leaves garbage the next tick's gc
    * sweeps.
    */
  private def gc(fs: FileSystem, p: HPath, dir: String, currentId: Long): Unit = {
    val keepIds = fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(n => !n.isEmpty && n.startsWith(ManifestPrefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(ManifestPrefix).toLong).toOption)
      .sorted(Ordering[Long].reverse)
      .take(RetainManifests)
    val referenced = keepIds.flatMap(id =>
      readManifest(fs, p, id).values.flatten).toSet + (GenPrefix + currentId)
    val keepManifests = keepIds.map(ManifestPrefix + _).toSet
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(GenPrefix) && !referenced.contains(name))
        fs.delete(st.getPath, true)
      else if (!st.isDirectory && name.startsWith(ManifestPrefix) &&
          !keepManifests.contains(name))
        fs.delete(st.getPath, false)
    }
    ()
  }
}
