package graft.perfbench

import java.time.LocalDateTime

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Each one is a pure function of its seed
  * (mutation batches also of the reference state they mutate, which is
  * itself a function of the seed), so the same seed yields identical
  * inputs and the program only ever sees generated data.
  */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x` under `seed`. */
  def hash(seed: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + x + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Non-negative `hash(seed, x) mod m`. */
  def hmod(seed: Long, x: Long, m: Int): Int = java.lang.Math.floorMod(hash(seed, x), m.toLong).toInt

  // ---------------------------------------------------------------
  // retail tables: the orders / lineitem / part shape Tables reads

  /** Row counts of one generated retail dataset. Lines per order are
    * 1..7 (mean 4), as in the sf testdata `graft.Bench` reads.
    */
  final case class Retail(customers: Int, parts: Int, orders: Int)

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))
  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType)))
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  final case class RetailRows(part: Seq[Row], orders: Seq[Row], lineitem: Seq[Row])

  def retailRows(seed: Long, shape: Retail): RetailRows = {
    val rng = new java.util.SplittableRandom(seed)
    val part = (1 to shape.parts).map { p =>
      Row(p.toLong, s"part $p", s"Brand#${1 + rng.nextInt(5)}${1 + rng.nextInt(5)}",
        s"TYPE ${rng.nextInt(150)}", 1 + rng.nextInt(50),
        900.0 + rng.nextInt(110000) / 100.0)
    }
    val epoch = LocalDateTime.of(1992, 1, 1, 0, 0)
    val orders = mutable.ArrayBuffer.empty[Row]
    val lines = mutable.ArrayBuffer.empty[Row]
    var o = 1
    while (o <= shape.orders) {
      val date = epoch.plusDays(rng.nextInt(2400).toLong)
      val nLines = 1 + rng.nextInt(7)
      var total = 0.0
      var l = 1
      while (l <= nLines) {
        // popular parts are drawn more often (u² skews toward low keys),
        // so per-item vote counts spread like a ratings table's
        val u = rng.nextDouble()
        val partKey = 1L + (u * u * shape.parts).toLong
        val qty = (1 + rng.nextInt(50)).toDouble
        val price = qty * (900.0 + rng.nextInt(110000) / 100.0)
        total += price
        val flag = rng.nextInt(4) match { case 0 => "R"; case 1 => "A"; case _ => "N" }
        lines += Row(o.toLong, partKey, 1L + rng.nextInt(1000), l, qty, price,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0, flag,
          if (flag == "N") "O" else "F", date.plusDays(1L + rng.nextInt(120)))
        l += 1
      }
      orders += Row(o.toLong, 1L + rng.nextInt(shape.customers),
        if (rng.nextBoolean()) "O" else "F", math.rint(total * 100) / 100, date,
        s"${1 + rng.nextInt(5)}-PRIORITY")
      o += 1
    }
    RetailRows(part, orders.toSeq, lines.toSeq)
  }

  /** Write one seeded retail dataset as `part`, `orders` and `lineitem`
    * parquet tables under `dir`, the layout `graft.Tables` reads.
    */
  def writeRetail(spark: SparkSession, dir: String, seed: Long, shape: Retail): RetailRows = {
    val rows = retailRows(seed, shape)
    def write(name: String, data: Seq[Row], schema: StructType): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("part", rows.part, partSchema)
    write("orders", rows.orders, ordersSchema)
    write("lineitem", rows.lineitem, lineitemSchema)
    rows
  }

  // ---------------------------------------------------------------
  // rating mutations: re-rates, deletes and inserts over Zipf users

  /** One CDC row in the schema `EventStream.startCdcApply` consumes. */
  final case class RatingMut(user_id: Long, item_id: Long, rating: Double,
                             is_implicit: Boolean, ts: LocalDateTime, op: String)

  /** The reference's half-star rule, as `Mutations.normalizeRating`
    * states it: round(r·2)/2 half-up, clamped to [0.5, 5.0].
    */
  def halfStar(r: Double): Double = {
    val h = BigDecimal(r * 2.0).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 2.0
    math.min(5.0, math.max(0.5, h))
  }

  /** The ratings a store must hold: user → item → rating, mutated
    * alongside the stream.
    */
  final class RatingsRef {
    val byUser: mutable.LongMap[mutable.LongMap[Double]] = mutable.LongMap.empty
    def put(u: Long, i: Long, r: Double): Unit =
      byUser.getOrElseUpdate(u, mutable.LongMap.empty).update(i, r)
    def remove(u: Long, i: Long): Unit =
      byUser.get(u).foreach { m => m.remove(i); if (m.isEmpty) byUser.remove(u) }
    def apply(m: RatingMut): Unit =
      if (m.op == "delete") remove(m.user_id, m.item_id)
      else put(m.user_id, m.item_id, halfStar(m.rating))
    def size: Long = byUser.valuesIterator.map(_.size.toLong).sum
    def toMap: Map[(Long, Long), Double] =
      byUser.iterator.flatMap { case (u, m) => m.iterator.map { case (i, r) => (u, i) -> r } }.toMap
  }

  /** Seeded mutation batches against `ref`. Users are drawn Zipf(1.1)
    * over a seeded permutation of the users `ref` held at construction,
    * so a few users (and their buckets) take most writes. Per row: 50%
    * re-rate of an item the user holds (unrounded value), 20% delete of
    * one, 30% insert of an item the user lacks. Keys are distinct within
    * a batch; every batch carries one timestamp, later than any before.
    * `next` applies the batch to `ref` before returning it.
    */
  final class RatingBatches(seed: Long, ref: RatingsRef, parts: Int, batchRows: Int) {
    private val rng = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    private val users: Array[Long] = {
      val u = ref.byUser.keys.toArray.sorted
      var i = u.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = u(i); u(i) = u(j); u(j) = t; i -= 1 }
      u
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(users.length)(r => 1.0 / math.pow(r + 1.0, 1.1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    private val base = LocalDateTime.of(2030, 1, 1, 0, 0)
    private var tick = 0

    private def zipfUser(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      users(math.min(if (i >= 0) i else -i - 1, users.length - 1))
    }

    def next(): Seq[RatingMut] = {
      val ts = base.plusSeconds(tick.toLong)
      tick += 1
      val seen = mutable.HashSet.empty[(Long, Long)]
      val out = mutable.ArrayBuffer.empty[RatingMut]
      while (out.size < batchRows) {
        val u = zipfUser()
        val held = ref.byUser.get(u).map(_.keys.toArray.sorted).getOrElse(Array.empty[Long])
        val dice = rng.nextInt(10)
        val m =
          if (held.nonEmpty && dice < 7) {
            val i = held(rng.nextInt(held.length))
            if (dice < 5) RatingMut(u, i, 0.5 + 4.5 * rng.nextDouble(), false, ts, "upsert")
            else RatingMut(u, i, 0.0, false, ts, "delete")
          } else {
            var i = 1L + rng.nextInt(parts)
            while (held.contains(i)) i = 1L + rng.nextInt(parts)
            RatingMut(u, i, 0.5 + 4.5 * rng.nextDouble(), rng.nextInt(10) == 0, ts, "upsert")
          }
        if (seen.add((m.user_id, m.item_id))) out += m
      }
      out.foreach(ref.apply)
      out.toSeq
    }
  }

  // ---------------------------------------------------------------
  // documents: the BenchScaleDocs recipe, seeded

  val Vocab = 30000
  val Boilerplate = "terms of service apply to all content on this site please read carefully"

  /** Text of doc `id`. Per block of 50 ids: id ≡ 48 is a near-dup of
    * id − 1 (one word substituted, 3-shingle Jaccard ≈ 0.9), id ≡ 49 an
    * exact copy of id − 2; every 5th source doc opens with a shared
    * 12-word boilerplate preamble, which makes hot band buckets. Bodies
    * are 60–149 words over a 30k-word vocabulary, so unplanted pairs sit
    * far below the 0.5 threshold.
    */
  def docText(seed: Long, id: Long): String = {
    val r = java.lang.Math.floorMod(id, 50L)
    val src = if (r == 48) id - 1 else if (r == 49) id - 2 else id
    val len = 60 + hmod(seed, src * 3 + 1, 90)
    val sub = if (r == 48) hmod(seed, id * 5 + 2, len) else -1
    val sb = new java.lang.StringBuilder(len * 7 + Boilerplate.length + 1)
    if (java.lang.Math.floorMod(src, 5L) == 0) sb.append(Boilerplate).append(' ')
    var j = 0
    while (j < len) {
      if (j > 0) sb.append(' ')
      if (j == sub) sb.append('m').append(hmod(seed, id * 7919 + j, Vocab))
      else sb.append('w').append(hmod(seed, src * 1000003 + j, Vocab))
      j += 1
    }
    sb.toString
  }

  /** Planted pairs (a < b) whose larger id lies in [lo, hi): each
    * source s ≡ 47 (mod 50) pairs with its near-dup s + 1 and its copy
    * s + 2, and those two pair with each other.
    */
  def plantedPairs(lo: Long, hi: Long): Seq[(Long, Long)] =
    (lo until hi).flatMap { b =>
      java.lang.Math.floorMod(b, 50L) match {
        case 48 => Seq((b - 1, b))
        case 49 => Seq((b - 2, b), (b - 1, b))
        case _ => Nil
      }
    }

  /** Exact Jaccard of two texts' distinct word 3-shingle sets — an
    * independent formulation of what the MinHash detector verifies.
    */
  def shingleJaccard(a: String, b: String): Double = {
    def shingles(t: String): Set[String] = {
      val w = t.split("\\s+").filter(_.nonEmpty)
      if (w.length < 3) Set(w.mkString(" "))
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = sa.intersect(sb).size
    val uni = sa.size + sb.size - inter
    if (uni == 0) 0.0 else inter.toDouble / uni
  }
}
