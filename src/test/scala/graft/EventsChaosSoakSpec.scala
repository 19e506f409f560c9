package graft

import graft.operators.{ItemCF, TextAnalysis}
import graft.streaming.{BucketStore, DocStream, EventStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Events-side streaming CHAOS soak (r17, the r16 verdict's #2): the
  * ChaosSoakSpec recipe — several maintainers in ONE session through
  * interleaved CDC micro-batches, a mid-soak restart, and injected
  * crash debris — applied to the OTHER half of the store fleet, the
  * three maintainers fed by the events/ratings side:
  *
  *   - cooc MATRIX store + facts store
  *                           ([[EventStream.startCoocMaintain]])
  *   - bucketed ratings snapshot (CDC merge)
  *                           ([[EventStream.startCdcApply]])
  *   - line-count store (signed partials, merge-on-read append)
  *                           ([[DocStream.startLineCountMaintain]])
  *
  * Five micro-batches per stream (inserts, duplicate deliveries, a
  * re-rate, deletes, an update that moves lines between keys), a
  * session restart from the checkpoints between batches 2 and 3,
  * orphan unpublished generations planted in all four stores during
  * the outage (the next tick's `recover` must roll them back), then
  * the end pins:
  *
  *   1. matrix ≡ a from-scratch [[ItemCF.coocCountsOn]] of the facts
  *      snapshot, and facts deduped every delivered repeat;
  *   2. ratings snapshot ≡ the mutated oracle map (half-star
  *      normalization included), tombstoned rows gone;
  *   3. line counts ≡ a from-scratch [[TextAnalysis.lineCountsOf]] of
  *      the mutated corpus, with the boilerplate verdict DEFLATED by
  *      the delete (the signed-partial contract);
  *   4. every applied-batch marker at the final batch id;
  *   5. the planted orphan generations are gone.
  */
class EventsChaosSoakSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("three events-side maintainers through interleaved CDC ticks, a restart, and crash debris end ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("events_chaos").toString

    // ---- reference state, mutated alongside the streams ------------
    val facts = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (2L, 12L), (3L, 12L))
      .foreach(facts += _)
    val ratings = scala.collection.mutable.LinkedHashMap.empty[(Long, Long), Double]
    ratings((1L, 10L)) = 4.0; ratings((2L, 10L)) = 5.0; ratings((3L, 12L)) = 3.5
    val docs = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    docs(1L) = "Cookie notice\nbody one"
    docs(2L) = "Cookie notice\nbody two"
    docs(3L) = "unique alpha\nunique beta"

    def docsDF: DataFrame = docs.toSeq.toDF("doc_id", "text")

    // ---- seeds: the three families' at-rest artifacts --------------
    val factsDir = s"$root/facts"; val matrixDir = s"$root/matrix"
    BucketStore.seed(facts.toSeq.toDF("user_id", "item_id"),
      BucketStore.longBucket(col("user_id"), 64), factsDir, n = 64)
    // r17: the matrix store persists the packed pair key (pk, n_users)
    BucketStore.seed(ItemCF.coocCountsPkOn(facts.toSeq.toDF("user_id", "item_id")),
      ItemCF.pairBucket(col("pk"), 64), matrixDir, n = 64)
    val snapDir = s"$root/ratings"
    BucketStore.seed(
      ratings.toSeq.map { case ((u, i), r) => (u, i, r, false, ts("2024-01-01 00:00:00")) }
        .toDF("user_id", "item_id", "rating", "is_implicit", "ts"),
      pmod(col("user_id"), lit(64)).cast("int"), snapDir, n = 64)
    val lineDir = s"$root/lines"
    BucketStore.seed(TextAnalysis.lineCountsOf(docsDF),
      BucketStore.md5Bucket(md5(col("k")), 64), lineDir, n = 64,
      kind = BucketStore.KindMd5)

    // ---- one session, three maintainers, checkpointed feeds --------
    val coocIn = MemoryStream[(Long, Long)]
    val cdcIn = MemoryStream[RatingUpdate]
    val lineIn = MemoryStream[DocCdcIngest]
    def startAll() = (
      EventStream.startCoocMaintain(coocIn.toDF().toDF("user_id", "item_id"),
        factsDir, matrixDir, s"$root/ckpt_cooc"),
      EventStream.startCdcApply(cdcIn.toDF(), snapDir, s"$root/ckpt_cdc"),
      DocStream.startLineCountMaintain(lineIn.toDF(), lineDir, s"$root/ckpt_line"))
    var (qC, qR, qL) = startAll()

    def coocRound(rows: (Long, Long)*): Unit = {
      coocIn.addData(rows: _*)
      rows.foreach(facts += _)
    }
    def rateRound(rows: RatingUpdate*): Unit = {
      cdcIn.addData(rows: _*)
      rows.foreach { r =>
        if (r.op == "delete") { ratings.remove((r.user_id, r.item_id)); () }
        else ratings((r.user_id, r.item_id)) = math.round(r.rating * 2.0) / 2.0
      }
    }
    // ONE addData per stream per round (the ChaosSoakSpec flake class:
    // a ProcessingTime(0) trigger can split two addData calls into two
    // micro-batches and make batch ids nondeterministic)
    def lineRound(events: (String, Long, String, String)*): Unit = {
      lineIn.addData(events.map { case (op, id, t, b) => DocCdcIngest(op, id, t, b) }: _*)
      events.foreach { case (op, id, t, _) =>
        op match {
          case "i" | "u" => docs(id) = t
          case "d"       => docs.remove(id); ()
        }
      }
    }
    def drain(order: Seq[org.apache.spark.sql.streaming.StreamingQuery]): Unit =
      order.foreach(_.processAllAvailable())

    // ---- batch 0: inserts everywhere, within-batch double delivery --
    coocRound((1L, 12L), (1L, 12L), (4L, 10L)) // (1,12) delivered twice
    rateRound(RatingUpdate(4L, 10L, 4.3, false, ts("2024-01-02 00:00:00"), "upsert"))
    // ^ 4.3 must land as the half-star 4.5 (the merge normalizes)
    lineRound(("i", 10L, "Cookie notice\nfresh line\nfresh line", null))
    // ^ within-doc repeat counts ONE doc
    drain(Seq(qC, qR, qL))

    // ---- batch 1: more inserts, different drain interleave ----------
    coocRound((4L, 11L), (1L, 10L)) // (1,10) is a cross-batch duplicate fact
    rateRound(RatingUpdate(5L, 12L, 2.0, true, ts("2024-01-03 00:00:00"), "upsert"))
    lineRound(("i", 11L, "fresh line", null))
    drain(Seq(qL, qC, qR))

    // ---- batch 2: the CDC round ------------------------------------
    coocRound((5L, 12L), (5L, 10L))
    rateRound(
      RatingUpdate(1L, 10L, 2.2, false, ts("2024-01-04 00:00:00"), "upsert"), // re-rate → 2.0
      RatingUpdate(2L, 10L, 0.0, false, ts("2024-01-04 00:00:00"), "delete")) // empties a bucket
    lineRound(
      ("d", 2L, null, docs(2L)),                            // deflates "Cookie notice"
      ("u", 3L, "unique alpha\nunique gamma", docs(3L)))    // moves a line between keys
    drain(Seq(qR, qL, qC))

    // ---- CRASH: stop the session, plant crash debris, restart -------
    Seq(qC, qR, qL).foreach(_.stop())
    def plantOrphan(dir: String): Unit = {
      val p = java.nio.file.Paths.get(dir, "gen-99", "bucket=0")
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.write(p.resolve("junk.parquet"), Array[Byte](1, 2, 3))
      ()
    }
    plantOrphan(matrixDir); plantOrphan(factsDir); plantOrphan(snapDir); plantOrphan(lineDir)
    val restarted = startAll()
    qC = restarted._1; qR = restarted._2; qL = restarted._3

    // ---- batch 3: post-restart; cooc gets a DUPLICATE-ONLY batch ----
    // (zero delta pairs, zero touched buckets: the apply must no-op
    // cleanly while the marker still advances)
    coocRound((4L, 10L))
    rateRound(RatingUpdate(6L, 11L, 3.0, false, ts("2024-01-05 00:00:00"), "upsert"))
    lineRound(("i", 12L, "Cookie notice\npost restart body", null))
    drain(Seq(qC, qL, qR))
    assert(!new java.io.File(s"$matrixDir/gen-99").exists(),
      "recover must roll the orphan generation back on the first post-crash tick")
    assert(!new java.io.File(s"$factsDir/gen-99").exists())
    assert(!new java.io.File(s"$snapDir/gen-99").exists())
    assert(!new java.io.File(s"$lineDir/gen-99").exists())

    // ---- batch 4: final mixed round ----------------------------------
    coocRound((6L, 11L), (6L, 12L))
    rateRound(
      RatingUpdate(5L, 12L, 0.0, true, ts("2024-01-06 00:00:00"), "delete"),
      RatingUpdate(4L, 11L, 1.5, false, ts("2024-01-06 00:00:00"), "upsert"))
    lineRound(("u", 11L, "fresh line\nlast words", docs(11L)))
    drain(Seq(qR, qC, qL))
    Seq(qC, qR, qL).foreach(_.stop())

    // ---- end pins ----------------------------------------------------
    // 1. matrix ≡ from-scratch recount of the facts snapshot; facts
    //    deduped every repeat (seed 6 + 8 genuinely-new rows)
    val matrixNow = ItemCF.unpackCoocPk(BucketStore.readAll(spark, matrixDir))
      .select("item_a", "item_b", "n_users")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val factsNow = BucketStore.readAll(spark, factsDir)
    val batchNow = ItemCF.coocCountsOn(factsNow)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(matrixNow === batchNow)
    assert(factsNow.count() === facts.size.toLong)
    assert(matrixNow === ItemCF.coocCountsOn(
      facts.toSeq.toDF("user_id", "item_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet,
      "facts snapshot drifted from the reference mutation log")

    // 2. ratings snapshot ≡ the mutated oracle (normalization included)
    val snapNow = BucketStore.readAll(spark, snapDir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("item_id")) ->
        r.getAs[Double]("rating")).toMap
    assert(snapNow === ratings.toMap)
    assert(snapNow((4L, 10L)) === 4.5) // 4.3 half-star normalized
    assert(snapNow((1L, 10L)) === 2.0) // re-rate applied, not duplicated
    assert(!snapNow.contains((2L, 10L)) && !snapNow.contains((5L, 12L)))

    // 3. line counts ≡ from-scratch recount of the mutated corpus;
    //    the delete deflated the boilerplate verdict (signed partials)
    val lineNow = DocStream.readLineCounts(spark, lineDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val lineBatch = TextAnalysis.lineCountsOf(docsDF)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(lineNow === lineBatch)
    // docs {1, 10, 12} still carry it; doc 2's delete subtracted one
    assert(lineNow.contains(("Cookie notice", 3L)))
    assert(lineNow.contains(("fresh line", 2L))) // doc 10 + updated doc 11
    assert(!lineNow.exists(_._1 == "unique beta"), "doc 3's update removed the line")

    // 4. markers: every store sits at the final batch id
    assert(BucketStore.appliedBatchId(matrixDir) === 4L)
    assert(BucketStore.appliedBatchId(factsDir) === 4L)
    assert(BucketStore.appliedBatchId(snapDir) === 4L)
    assert(BucketStore.appliedBatchId(lineDir) === 4L)
  }
}
