package graft.perfbench

import graft.Tables
import graft.streaming.{BucketStore, EventStream}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

/** `ratings_cdc`: rating writes merged into a bucketed ratings store as
  * they arrive, beside reads of the same store. Set-up seeds the store
  * from `Tables.interactions` with the layout `BucketStore.deriveBuckets`
  * picks; one op hands one mutation batch to `EventStream.startCdcApply`
  * and waits for its publish; the read after it fetches one touched
  * user's current rows through a pruned bucket read.
  */
final class RatingsCdc(spark: SparkSession, seed: Long, work: String) extends Workload {
  import RatingsCdc._
  import spark.implicits._

  val cycle: Int = BucketStore.DefaultMaxLiveGenerations
  def rowsPerOp: Long = BatchRows

  private var storeDir = ""
  private var ref: Gen.RatingsRef = _
  private var batches: Gen.RatingBatches = _
  private var n = 0
  private var input: MemoryStream[Gen.RatingMut] = _
  private var query: StreamingQuery = _
  private var batch: Seq[Gen.RatingMut] = Nil
  private var spaceBytes = 0L
  private var spaceRows = 0L

  /** Generate tables under `dir`, seed a store at `dir/store` from
    * their interactions; returns the reference and the bucket count.
    */
  private def seedStore(dir: String, shape: Gen.Retail): (Gen.RatingsRef, Int) = {
    val rows = Gen.writeRetail(spark, dir, seed, shape)
    val inter = Tables.interactions(spark, dir)
      .select("user_id", "item_id", "rating", "is_implicit", "ts").cache()
    val buckets = BucketStore.deriveBuckets(inter.count())
    BucketStore.seed(inter, BucketStore.longBucket(col("user_id"), buckets), s"$dir/store", buckets)
    inter.unpersist()
    val r = new Gen.RatingsRef
    Reference.interactions(rows).foreach(i => r.put(i.user, i.item, i.rating))
    (r, buckets)
  }

  private def startStream(store: String, ckpt: String): (MemoryStream[Gen.RatingMut], StreamingQuery) = {
    val in = MemoryStream[Gen.RatingMut](spark)
    (in, EventStream.startCdcApply(in.toDF(), store, ckpt))
  }

  private def tick(in: MemoryStream[Gen.RatingMut], q: StreamingQuery, rows: Seq[Gen.RatingMut]): Unit = {
    in.addData(rows: _*)
    q.processAllAvailable()
  }

  /** The touched user's rows, read back through a pruned bucket read. */
  private def userRows(store: String, buckets: Int, u: Long): Map[Long, Double] =
    BucketStore.readBuckets(spark, store, Seq(java.lang.Math.floorMod(u, buckets.toLong).toInt), buckets)
      .filter(col("user_id") === u).select("item_id", "rating").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def prepare(dir: String): Unit = {
    val (r, buckets) = seedStore(dir, Shape)
    ref = r; n = buckets; storeDir = s"$dir/store"
  }

  /** Starts the maintainer and applies stream batch 0 with its read,
    * untimed; measured ops then begin at live generation 2 of a cycle.
    */
  def start(): Unit = {
    batches = new Gen.RatingBatches(seed, ref, Shape.parts, BatchRows)
    val (in, q) = startStream(storeDir, s"$work/ckpt")
    input = in; query = q
    stage(0)
    op(0)
    read(0, 0)
    ()
  }

  def stage(i: Int): Unit = batch = batches.next()
  def op(i: Int): Unit = tick(input, query, batch)

  val readsPerOp = 2

  /** Reads the `k`-th distinct user the batch touched. */
  def read(i: Int, k: Int): Option[String] = {
    val users = batch.map(_.user_id).distinct
    val u = users(k % users.size)
    val got = userRows(storeDir, n, u)
    val want = ref.byUser.get(u).map(_.toMap).getOrElse(Map.empty)
    if (got == want) None else Some(s"user $u holds ${got.size} rows, expected ${want.size}")
  }

  def probe(i: Int): Map[String, Any] = {
    val state = Disk.storeState(storeDir)
    val (touched, bytes) = Disk.generation(storeDir, state.batch)
    spaceBytes += Disk.usage(storeDir).bytes
    spaceRows += ref.size
    Map("touched_buckets" -> touched, "buckets" -> n,
      "compacted" -> (state.liveGenerations == 1),
      "live_generations" -> state.liveGenerations,
      "files_per_bucket" -> Disk.filesPerBucket(storeDir, state),
      "bytes_written" -> bytes, "changed_rows" -> batch.size)
  }

  def finish(): Unit = if (query != null) query.stop()

  def checks(): Seq[(String, Option[String])] = {
    val got = BucketStore.readAll(spark, storeDir).select("user_id", "item_id", "rating").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val gotMap = got.toMap
    val want = ref.toMap
    val wrong = want.count { case (k, v) => !gotMap.get(k).contains(v) }
    Seq(
      "store_equals_reference" ->
        (if (got.length == gotMap.size && gotMap.size == want.size && wrong == 0) None
         else Some(s"store holds ${got.length} rows (${gotMap.size} keys), reference ${want.size}; $wrong differ")),
      "store_layout_derived" ->
        (if (BucketStore.seededBuckets(storeDir) == n) None else Some("bucket count changed")))
  }

  def space(): (Long, Long) = (spaceBytes, spaceRows)
  override def release(): Unit = { ref = null; batches = null; batch = Nil }
}

object RatingsCdc {
  val Shape: Gen.Retail = Gen.Retail(customers = 2000, parts = 3000, orders = 8000)
  val BatchRows = 20
}
