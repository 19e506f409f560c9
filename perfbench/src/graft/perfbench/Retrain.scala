package graft.perfbench

import graft.operators.Relational
import graft.recommender.Als
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `retrain`: the reference service's periodic recompute over one
  * generated retail dataset — per-item stats, top movies, then ALS
  * top-N over unseen items, each written to a parquet sink. The read
  * after each op fetches one user's recommendations from that sink.
  */
final class Retrain(spark: SparkSession, seed: Long, work: String, trace: Trace) extends Workload {
  import Retrain._

  val cycle = 1
  private var dataDir = ""
  private val outDir = s"$work/retrain-out"
  private var lineRows = 0L
  private var users = Array.empty[Long]
  private val rng = new java.util.SplittableRandom(seed)

  def rowsPerOp: Long = lineRows

  private def recompute(data: String, out: String): Unit = {
    trace.span("layer", "relational.movie_stats")(
      Relational.movieStats(spark, data).write.mode("overwrite").parquet(s"$out/movie_stats"))
    trace.span("layer", "relational.top_movies")(
      Relational.topMovies(spark, data).write.mode("overwrite").parquet(s"$out/top_movies"))
    trace.span("layer", "als.top_n")(
      Als.topN(spark, data, n = TopN).write.mode("overwrite").parquet(s"$out/recs"))
  }

  private def recsOf(out: String, user: Long): Array[(Long, Int)] =
    spark.read.parquet(s"$out/recs").filter(col("user_id") === user)
      .select("item_id", "rn").collect().map(r => (r.getLong(0), r.getInt(1)))

  def prepare(dir: String): Unit = {
    val rows = Gen.writeRetail(spark, dir, seed, Shape)
    dataDir = dir
    lineRows = rows.lineitem.size.toLong
    users = rows.orders.map(_.getLong(1)).distinct.sorted.toArray
  }

  def start(): Unit = {
    op(0)
    read(0, 0)
    ()
  }
  def stage(i: Int): Unit = ()
  def op(i: Int): Unit = recompute(dataDir, outDir)

  val readsPerOp = 5

  def read(i: Int, k: Int): Option[String] = {
    val u = users(rng.nextInt(users.length))
    val recs = recsOf(outDir, u)
    val ranks = recs.map(_._2).sorted.toSeq
    if (recs.isEmpty || recs.length > TopN || ranks != (1 to recs.length))
      Some(s"user $u: ${recs.length} recs with ranks ${ranks.mkString(",")}")
    else None
  }

  def probe(i: Int): Map[String, Any] = Map.empty
  def finish(): Unit = ()

  def checks(): Seq[(String, Option[String])] = {
    val rows = Gen.retailRows(seed, Shape)
    val inter = Reference.interactions(rows)
    val stats = spark.read.parquet(s"$outDir/movie_stats").collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Long]("count_users"), r.getAs[Double]("avg_rating"))).toSet
    val wantStats = Reference.movieStats(inter)
    val top = spark.read.parquet(s"$outDir/top_movies").collect()
      .map(r => (r.getAs[Long]("item_id"), r.getAs[Double]("avg_rating"), r.getAs[Long]("votes"),
        r.getAs[String]("p_name"), r.getAs[String]("p_brand"))).toSet
    val wantTop = Reference.topMovies(inter, rows.part).toSet
    val recs = spark.read.parquet(s"$outDir/recs").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("item_id"), r.getAs[Int]("rn")))
    val seen = inter.map(i => (i.user, i.item)).toSet
    val byUser = recs.groupBy(_._1)
    val badRanks = byUser.collect {
      case (u, xs) if xs.length > TopN || xs.map(_._3).sorted.toSeq != (1 to xs.length) => u
    }
    val seenRecs = recs.count(r => seen.contains((r._1, r._2)))
    val missingUsers = inter.map(_.user).toSet -- byUser.keySet
    def diff[T](got: Set[T], want: Set[T]) =
      if (got == want) None
      else Some(s"${(got -- want).size} unexpected, ${(want -- got).size} missing of ${want.size}")
    Seq(
      "movie_stats_match_reference" -> diff(stats, wantStats),
      "top_movies_match_reference" -> diff(top, wantTop),
      "als_at_most_n_contiguous_ranks" ->
        (if (badRanks.isEmpty) None else Some(s"${badRanks.size} users with bad rank lists")),
      "als_no_seen_items" -> (if (seenRecs == 0) None else Some(s"$seenRecs recs already seen")),
      "als_every_user_served" ->
        (if (missingUsers.isEmpty) None else Some(s"${missingUsers.size} users without recs")))
  }

  def space(): (Long, Long) = {
    val rows = Seq("movie_stats", "top_movies", "recs")
      .map(t => spark.read.parquet(s"$outDir/$t").count()).sum
    (Disk.usage(outDir).bytes, rows)
  }
}

object Retrain {
  /** Sized so one recompute takes a few seconds on 4 cores: the whole
    * run, with set-up, has to fit the benchmark's per-run budget.
    */
  val Shape: Gen.Retail = Gen.Retail(customers = 1000, parts = 1500, orders = 10000)
  val TopN = 20
}
