package graft.perfbench

import graft.operators.Dedup
import graft.streaming.{BucketStore, DocStream}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** `doc_dedup`: continuous document ingest with near-dup maintenance.
  * Set-up seeds the MinHash signature and band stores from a generated
  * corpus; one op hands one append-only batch of new docs to
  * `DocStream.startNearDupMaintain` and waits for its publish; the read
  * after it fetches that batch's pairs from the pair log.
  */
final class DocDedup(spark: SparkSession, seed: Long) extends Workload {
  import DocDedup._
  import spark.implicits._

  val cycle: Int = BucketStore.DefaultMaxLiveGenerations
  def rowsPerOp: Long = BatchDocs

  private var root = ""
  private var input: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var lo = 0L
  private var batch: Seq[(Long, String)] = Nil
  private var planted = 0L
  private var plantedFound = 0L
  private var pairsLogged = 0L
  private var lastPairs = 0L
  private var spaceBytes = 0L
  private var spaceRows = 0L

  private def corpus(from: Long, until: Long): DataFrame = {
    val s = seed
    spark.range(from, until).as[Long].map(id => (id, Gen.docText(s, id))).toDF("doc_id", "text")
  }

  private def seedStores(dir: String, docs: Long): Unit =
    Dedup.seedMinhashStores(spark, corpus(0L, docs), s"$dir/sig", s"$dir/band", nBuckets = -1)

  private def startStream(dir: String): (MemoryStream[(Long, String)], StreamingQuery) = {
    val in = MemoryStream[(Long, String)](spark)
    (in, DocStream.startNearDupMaintain(in.toDF().toDF("doc_id", "text"),
      s"$dir/sig", s"$dir/band", s"$dir/pairs", s"$dir/ckpt"))
  }

  private def docs(from: Long, until: Long): Seq[(Long, String)] =
    (from until until).map(id => (id, Gen.docText(seed, id)))

  private def tick(in: MemoryStream[(Long, String)], q: StreamingQuery, rows: Seq[(Long, String)]): Unit = {
    in.addData(rows: _*)
    q.processAllAvailable()
  }

  /** Pairs the log holds whose larger id lies in [from, until). */
  private def pairsOf(dir: String, from: Long, until: Long): Array[(Long, Long, Double)] =
    Dedup.readPairLog(spark, s"$dir/pairs")
      .filter(col("doc_b") >= from && col("doc_b") < until)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  def prepare(dir: String): Unit = {
    seedStores(dir, SeedDocs)
    root = dir
  }

  /** Starts the maintainer and applies stream batch 0 with its read,
    * untimed: the store and pair-log compactions (stream batches 7 and 8
    * of every 8) then both fall inside each measured cycle.
    */
  def start(): Unit = {
    val (in, q) = startStream(root)
    input = in; query = q
    stage(0)
    op(0)
    read(0, 0)
    planted = 0; plantedFound = 0; pairsLogged = 0
  }

  def stage(i: Int): Unit = {
    lo = SeedDocs + i * BatchDocs
    batch = docs(lo, lo + BatchDocs)
  }

  def op(i: Int): Unit = tick(input, query, batch)

  val readsPerOp = 1

  def read(i: Int, k: Int): Option[String] = {
    val found = pairsOf(root, lo, lo + BatchDocs)
    val want = Gen.plantedPairs(lo, lo + BatchDocs)
    val got = found.map(p => (p._1, p._2)).toSet
    val hit = want.count(got.contains)
    planted += want.size; plantedFound += hit
    pairsLogged += found.length; lastPairs = found.length
    val bad = found.filter { case (a, b, j) =>
      val exact = Gen.shingleJaccard(Gen.docText(seed, a), Gen.docText(seed, b))
      exact < Threshold || math.abs(exact - j) > 1e-3
    }
    if (hit < want.size) Some(s"found $hit of ${want.size} planted pairs in [$lo, ${lo + BatchDocs})")
    else if (bad.nonEmpty) Some(s"${bad.length} logged pairs fail verification, e.g. ${bad.head}")
    else None
  }

  def probe(i: Int): Map[String, Any] = {
    val stores = Seq(s"$root/sig", s"$root/band")
    val states = stores.map(Disk.storeState)
    val gens = stores.zip(states).map { case (d, s) => Disk.generation(d, s.batch) }
    val n = BucketStore.seededBuckets(s"$root/sig")
    spaceBytes += Seq("sig", "band", "pairs").map(s => Disk.usage(s"$root/$s").bytes).sum
    spaceRows += lo + BatchDocs
    Map("touched_buckets" -> gens.map(_._1).sum, "buckets" -> n * stores.size,
      "compacted" -> states.exists(_.liveGenerations == 1),
      "live_generations" -> states.map(_.liveGenerations).max,
      "files_per_bucket" -> stores.zip(states).map { case (d, s) => Disk.filesPerBucket(d, s) }.sum / stores.size,
      "bytes_written" -> gens.map(_._2).sum, "changed_rows" -> batch.size,
      "pairs" -> lastPairs,
      "pair_log_files" -> Disk.usage(s"$root/pairs").parquetFiles)
  }

  def finish(): Unit = if (query != null) query.stop()

  def checks(): Seq[(String, Option[String])] = {
    val total = Dedup.readPairLog(spark, s"$root/pairs").filter(col("doc_b") >= SeedDocs + BatchDocs).count()
    Seq(
      "planted_pairs_found" ->
        (if (plantedFound == planted && planted > 0) None else Some(s"$plantedFound of $planted")),
      "pair_log_keeps_every_batch_pair" ->
        (if (total == pairsLogged) None else Some(s"log holds $total measured pairs, reads saw $pairsLogged")))
  }

  override def summary: Map[String, Any] = Map("planted_pairs" -> planted,
    "planted_recall" -> (if (planted == 0) 0.0 else plantedFound.toDouble / planted))

  def space(): (Long, Long) = (spaceBytes, spaceRows)
}

object DocDedup {
  val SeedDocs = 4000L
  val BatchDocs = 100L
  val Threshold = 0.5
}
