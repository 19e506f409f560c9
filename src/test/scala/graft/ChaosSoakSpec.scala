package graft

import graft.operators.{Dedup, Retrieval, Similarity}
import graft.streaming.{BucketStore, DocStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cross-family streaming CHAOS soak (r16, the r15 verdict's #4): the
  * per-family specs pin each maintainer's crash/replay/CDC story in
  * isolation; a real deployment runs SEVERAL maintainers against one
  * session through interleaved ticks, restarts, and crash debris.
  * This suite drives the five heaviest store families —
  *
  *   - exact-dedup MEMBER store   ([[DocStream.startDedupMaintain]])
  *   - banded minhash sig+band    ([[DocStream.startNearDupMaintain]])
  *   - IVF postings + id sidecar  ([[DocStream.startIvfMaintain]])
  *   - BM25 postings + stats      ([[DocStream.startBm25Maintain]])
  *   - semantic-dedup store + verdict log
  *                                ([[DocStream.startSemanticDedupMaintain]])
  *
  * — through five interleaved micro-batches (inserts, updates,
  * deletes, a re-embed) with a mid-soak SESSION RESTART, injected
  * crash debris (orphan unpublished generations that `recover` must
  * roll back), the maintainer's own pair-log folds (cadence 2), and
  * the IVF recall drift probes (tick-sample + corpus-sample), then
  * pins the composition's end state:
  *
  *   1. every store ≡ a FRESH batch seed/build of the mutated corpus;
  *   2. the pair log is folded and live-filtered (no dead endpoints);
  *   3. every applied-batch marker sits at the final batch id;
  *   4. the injected orphan generations are gone;
  *   5. the healthy-data drift probes never fired.
  */
class ChaosSoakSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark

  test("five maintainers through interleaved CDC ticks, a restart, crash debris, folds, and probes end ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val root = java.nio.file.Files.createTempDirectory("chaos_soak").toString

    // ---- reference corpora, mutated alongside the streams ----------
    // doc texts: ≥ 3 distinct words (the banded family's shingle floor)
    def txt(i: Long): String =
      s"document number $i speaks about topic ${i % 7} in its own particular words variant ${i * 31 % 11}"
    val d1 = "the quick brown fox jumps over the lazy dog by the river tonight"
    val docs = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    (1L to 12L).foreach(i => docs(i) = txt(i))
    docs(1L) = d1
    docs(2L) = d1.replace("tonight", "today") // planted seed near-pair
    // vectors: four tight synthetic clusters, deterministic jitter
    def vec(i: Long): Seq[Double] = (0 until 6).map(d =>
      math.cos((i % 4) * 1.9 + d) * 5.0 + ((i * 37 + d * 11) % 97) / 970.0)
    val vecs = scala.collection.mutable.LinkedHashMap.empty[Long, Seq[Double]]
    (1L to 40L).foreach(i => vecs(i) = vec(i))

    def docsDF: DataFrame = docs.toSeq.toDF("doc_id", "text")
    def withNorm(df: DataFrame): DataFrame = df
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    def vecsDF: DataFrame = withNorm(vecs.toSeq.toDF("vec_id", "embedding"))

    // ---- seeds: the four families' at-rest artifacts ----------------
    val exactDir = s"$root/exact"
    Dedup.seedDedupMemberStore(spark, docsDF, exactDir)
    val det = Dedup.minhashDetector(spark, 0.5)
    val sigDir = s"$root/sig"; val bandDir = s"$root/band"
    val pairsDir = s"$root/pairs"
    Dedup.seedNearDupStores(spark, docsDF, det, sigDir, bandDir)
    val centsDir = s"$root/cents"; val ivfDir = s"$root/ivf"
    val byIdDir = s"$root/byid"
    val nlist = 8
    val cents = Similarity.trainQuantizer(spark, vecsDF, centsDir, nlist)
    Similarity.seedIvfStore(spark, vecsDF, ivfDir, cents, nlist)
    Retrieval.seedVecSidecar(spark, vecsDF, byIdDir)
    val bm25Dir = s"$root/bm25"
    Retrieval.buildBm25Index(docsDF, bm25Dir)
    // fifth family: the semantic-dedup store (frozen quantizer +
    // per-batch verdict LOG — a consistency surface none of the other
    // four carry), fed the SAME vector mutations as the IVF family
    val semStore = s"$root/sem"; val semCents = s"$root/semcents"
    val semVerdicts = s"$root/semver"
    Similarity.seedSemanticStore(spark, vecs.toSeq.toDF("vec_id", "v"),
      semStore, semCents, threshold = 0.92, nlist = nlist)

    // ---- one session, four maintainers, CDC-shaped feeds ------------
    val driftFired = new java.util.concurrent.atomic.AtomicInteger(0)
    val exactIn = MemoryStream[DocCdcIngest]
    val bandIn = MemoryStream[DocCdcIngest]
    val bm25In = MemoryStream[DocCdcIngest]
    val ivfIn = MemoryStream[VecCdcIngest]
    val semIn = MemoryStream[VecCdcIngest]
    def startAll() = (
      DocStream.startDedupMaintain(exactIn.toDF(), exactDir, s"$root/ckpt_exact"),
      DocStream.startNearDupMaintain(bandIn.toDF(), sigDir, bandDir, pairsDir,
        s"$root/ckpt_band", compactPairsEveryNTicks = 2),
      DocStream.startIvfMaintain(ivfIn.toDF(), ivfDir, centsDir, s"$root/ckpt_ivf",
        probe = Some(Similarity.IvfProbeConfig(sample = 4, k = 5, threshold = 0.5,
          everyNTicks = 1, onDrift = (_, _) => { driftFired.incrementAndGet(); () },
          corpusSample = 4, corpusEveryNTicks = 2)),
        byIdDir = Some(byIdDir)),
      DocStream.startBm25Maintain(bm25In.toDF(), bm25Dir, s"$root/ckpt_bm25"),
      DocStream.startSemanticDedupMaintain(semIn.toDF(), semStore, semCents,
        semVerdicts, s"$root/ckpt_sem", threshold = 0.92))
    var (qE, qB, qI, qM, qS) = startAll()
    // the two vector families see the SAME mutations (one vecs map)
    def vecRound(events: VecCdcIngest*): Unit = {
      ivfIn.addData(events: _*)
      semIn.addData(events: _*)
    }
    // the three text families see the SAME mutations (one docs map).
    // ONE addData per stream per round: the ProcessingTime(0) trigger
    // can fire between two addData calls and split a round into two
    // micro-batches, making batch ids nondeterministic
    def docRound(events: (String, Long, String, String)*): Unit = {
      val rows = events.map { case (op, id, text, before) =>
        DocCdcIngest(op, id, text, before) }
      exactIn.addData(rows: _*)
      bandIn.addData(rows: _*)
      bm25In.addData(rows: _*)
      events.foreach { case (op, id, text, _) =>
        op match {
          case "i" | "u" => docs(id) = text
          case "d"       => docs.remove(id); ()
        }
      }
    }
    def drain(order: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
      order.foreach(_.processAllAvailable())

    // ---- batch 0: pure inserts (a cross-family "ingest" round) ------
    // near-dup plants reuse the per-family specs' known-good edit
    // distances (one word per hop — exact jaccard 8/14 ≥ 0.5)
    docRound(
      ("i", 13L, docs(3L), null),                          // exact copy of a seed doc
      ("i", 14L, d1.replace("tonight", "tomorrow"), null)) // near-dup of seed doc 1
    vecRound(VecCdcIngest("upsert", 50L, vecs(5L).map(_ * 1.0001)),
      VecCdcIngest("upsert", 51L, vec(51L)))
    vecs(50L) = vecs(5L).map(_ * 1.0001); vecs(51L) = vec(51L)
    drain(Seq(qE, qB, qI, qM, qS))

    // ---- batch 1: inserts, different drain interleave ---------------
    docRound(
      ("i", 15L, docs(14L).replace("quick", "sly"), null), // pairs TICK doc 14 (cross-tick)
      ("i", 16L, txt(160L), null))
    vecRound(VecCdcIngest("upsert", 52L, vec(52L)),
      VecCdcIngest("upsert", 53L, vec(53L)))
    vecs(52L) = vec(52L); vecs(53L) = vec(53L)
    drain(Seq(qS, qI, qM, qB, qE))

    // ---- batch 2: CDC mutations (fold cadence fires on the banded) --
    docRound(
      ("d", 2L, null, docs(2L)),      // kills the seed near-pair's endpoint
      ("u", 4L, txt(400L), docs(4L))) // moves a doc between content groups
    val re8 = vecs(8L).map(_ + 0.5)
    vecRound(VecCdcIngest("delete", 7L, vecs(7L)),          // tombstone (indexed before-image)
      VecCdcIngest("delete", 8L, vecs(8L)),                 // re-embed = delete + upsert, one batch
      VecCdcIngest("upsert", 8L, re8))
    vecs.remove(7L); vecs(8L) = re8
    drain(Seq(qB, qE, qM, qI, qS))

    // ---- CRASH: stop the session, plant crash debris, restart -------
    Seq(qE, qB, qI, qM, qS).foreach(_.stop())
    // orphan unpublished generations — a writer that died mid-tick;
    // recover (every tick's first act) must roll them back
    def plantOrphan(dir: String): Unit = {
      val p = java.nio.file.Paths.get(dir, "gen-99", "bucket=0")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("junk.parquet"), Array[Byte](1, 2, 3))
      ()
    }
    plantOrphan(sigDir); plantOrphan(ivfDir)
    assert(new java.io.File(s"$sigDir/gen-99").exists())
    val restarted = startAll()
    qE = restarted._1; qB = restarted._2; qI = restarted._3; qM = restarted._4
    qS = restarted._5

    // ---- batch 3: post-restart inserts (ids continue monotonic) -----
    docRound(("i", 17L, txt(170L), null))
    vecRound(VecCdcIngest("upsert", 54L, vec(54L)))
    vecs(54L) = vec(54L)
    drain(Seq(qM, qI, qS, qE, qB))
    assert(!new java.io.File(s"$sigDir/gen-99").exists(),
      "recover must roll the orphan generation back on the first post-crash tick")
    assert(!new java.io.File(s"$ivfDir/gen-99").exists())

    // ---- batch 4: final CDC round (fold cadence fires again) --------
    docRound(
      ("d", 14L, null, docs(14L)),  // kills a TICKED near-pair endpoint
      ("i", 18L, docs(13L), null))  // one more exact copy
    vecRound(VecCdcIngest("delete", 50L, vecs(50L)),
      VecCdcIngest("upsert", 55L, vec(55L)))
    vecs.remove(50L); vecs(55L) = vec(55L)
    drain(Seq(qE, qI, qB, qM, qS))
    Seq(qE, qB, qI, qM, qS).foreach(_.stop())

    // ---- end pins ----------------------------------------------------
    // 1a. exact member store ≡ fresh seed of the mutated corpus
    Dedup.seedDedupMemberStore(spark, docsDF, s"$root/exact2")
    def members(dir: String) = BucketStore.readAll(spark, dir)
      .select("text_md5", "doc_id").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(members(exactDir) === members(s"$root/exact2"))
    def groups(dir: String) = Dedup.readDedupGroups(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(groups(exactDir) === groups(s"$root/exact2"))
    // the planted copies share one group with keeper = lowest live id
    val g3 = groups(exactDir).find(_._2 == 3L)
    assert(g3.exists(_._3 == 3L), s"doc 3's group must hold {3,13,18}, got $g3")

    // 1b. banded sig+band stores ≡ fresh seed of the mutated corpus
    Dedup.seedNearDupStores(spark, docsDF, det, s"$root/sig2", s"$root/band2")
    def idSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def bandSet(dir: String) = BucketStore.readAll(spark, dir)
      .select("doc_id", "band", "key")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(idSet(sigDir) === idSet(s"$root/sig2"))
    assert(bandSet(bandDir) === bandSet(s"$root/band2"))

    // 2. pair log: folded by the maintainer's own cadence (batch 4),
    //    live-filtered (docs 2 and 14 are dead), and every surviving
    //    pair is a true near-pair of the final corpus
    def pairDirNames = {
      val p = new org.apache.hadoop.fs.Path(pairsDir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).toSet
    }
    assert(pairDirNames === Set("compact-4"), pairDirNames.toString)
    val logPairs = Dedup.readPairLog(spark, pairsDir)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dead = Set(2L, 14L)
    assert(logPairs.forall(p => !dead(p._1) && !dead(p._2)),
      s"folded log must drop dead endpoints, got $logPairs")
    val batchPairs = Dedup.minhashLshOn(spark, docsDF, 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(logPairs.subsetOf(batchPairs), s"log=$logPairs batch=$batchPairs")
    // the exact-copy pairs planted across three different ticks (batch
    // 0's 13 ≡ seed 3, batch 4's 18 ≡ both) all survive the fold
    assert(Set((3L, 13L), (3L, 18L), (13L, 18L)).subsetOf(logPairs), logPairs.toString)

    // 3. IVF store + sidecar ≡ one-shot seed under the SAME frozen
    //    quantizer; searches agree exactly
    Similarity.seedIvfStore(spark, vecsDF, s"$root/ivf2", cents, nlist)
    val queries = vecsDF.filter(col("vec_id").isin(1L, 8L, 51L, 55L))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    def hits(dir: String) = Similarity.searchIvfStore(spark, dir, cents,
        queries, k = 5, nprobe = nlist, nlist = nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(hits(ivfDir) === hits(s"$root/ivf2"))
    assert(!hits(ivfDir).exists(h => h._2 == 7L || h._2 == 50L),
      "tombstoned vectors must not surface as neighbors")
    // sidecar mirrors the live vectors exactly
    val sidecar = BucketStore.readAll(spark, byIdDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sidecar === vecs.keySet.toSet)

    // 4. BM25 live index ≡ one-shot build of the mutated corpus
    Retrieval.buildBm25Index(docsDF, s"$root/bm252")
    val qs = Retrieval.pseudoQueries(docsDF)
    def bm25Hits(dir: String) = Retrieval.bm25FromIndex(spark, dir, qs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(bm25Hits(bm25Dir) === bm25Hits(s"$root/bm252"))

    // 5. markers: every commit store sits at the final batch id
    assert(BucketStore.appliedBatchId(exactDir) === 4L)
    assert(BucketStore.appliedBatchId(sigDir) === 4L)   // CDC commit store = rows
    assert(BucketStore.appliedBatchId(ivfDir) === 4L)
    assert(BucketStore.appliedBatchId(byIdDir) === 4L)

    // 6. semantic store: membership ≡ the mutated corpus, marker at
    //    the final id, and every ticked vector has a logged verdict
    //    (the per-batch decision log — deletes leave history in place)
    val semIds = BucketStore.readAll(spark, semStore)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(semIds === vecs.keySet.toSet)
    assert(BucketStore.appliedBatchId(semStore) === 4L)
    val verdictIds = spark.read.parquet(semVerdicts)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Set(8L, 50L, 51L, 52L, 53L, 54L, 55L).subsetOf(verdictIds),
      s"verdict log missing ticked vectors: $verdictIds")

    // 7. healthy-data drift probes ran each tick and never fired
    assert(driftFired.get() === 0,
      s"drift probe fired ${driftFired.get()} times on healthy data")
  }
}
