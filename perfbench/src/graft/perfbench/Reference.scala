package graft.perfbench

import java.time.LocalDateTime

/** Independent, driver-side formulations of what the program computes
  * from generated retail tables — the references the end-of-run checks
  * compare against. Plain Scala collections, no Spark.
  */
object Reference {
  final case class Interaction(user: Long, item: Long, rating: Double,
                               isImplicit: Boolean, ts: LocalDateTime)

  private def roundHalfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Quantity 1..50 → half-star rating in [0.5, 5.0]. */
  def qtyRating(q: Double): Double = math.min(5.0, math.max(0.5, roundHalfUp(q / 5.0 * 2.0, 0) / 2.0))

  /** orders ⋈ lineitem as (user, item) ratings, one row per key: the
    * latest order wins, then the higher rating, then the explicit row.
    */
  def interactions(rows: Gen.RetailRows): Seq[Interaction] = {
    val orders = rows.orders.map(r => r.getLong(0) -> (r.getLong(1), r.getAs[LocalDateTime](4))).toMap
    val all = rows.lineitem.map { l =>
      val (user, date) = orders(l.getLong(0))
      Interaction(user, l.getLong(1), qtyRating(l.getDouble(4)), l.getString(8) == "R", date)
    }
    val better: (Interaction, Interaction) => Boolean = (a, b) => {
      val c = a.ts.compareTo(b.ts)
      if (c != 0) c > 0
      else if (a.rating != b.rating) a.rating > b.rating
      else !a.isImplicit && b.isImplicit
    }
    all.groupBy(i => (i.user, i.item)).values.map(_.reduce((a, b) => if (better(b, a)) b else a)).toSeq
  }

  /** statistics.py's per-item stats: explicit ratings only, voters > 5,
    * mean rounded half-up to 4 places. (item, count, avg)
    */
  def movieStats(inter: Seq[Interaction], usersLowerLimit: Int = 5): Set[(Long, Long, Double)] =
    inter.filter(!_.isImplicit).groupBy(_.item).collect {
      case (item, xs) if xs.size > usersLowerLimit =>
        (item, xs.size.toLong, roundHalfUp(xs.map(_.rating).sum / xs.size, 4))
    }.toSet

  /** controller.py's top movies: ratings ≥ 3.5, ordered by votes, then
    * mean, then item id; the first `topN`. (item, avg, votes, name, brand)
    */
  def topMovies(inter: Seq[Interaction], part: Seq[org.apache.spark.sql.Row],
                topN: Int = 100, ratingLimit: Double = 3.5): Seq[(Long, Double, Long, String, String)] = {
    val names = part.map(p => p.getLong(0) -> (p.getString(1), p.getString(2))).toMap
    inter.filter(_.rating >= ratingLimit).groupBy(_.item).toSeq.map { case (item, xs) =>
      (item, roundHalfUp(xs.map(_.rating).sum / xs.size, 4), xs.size.toLong)
    }.filter(t => names.contains(t._1))
      .sortBy { case (item, avg, votes) => (-votes, -avg, item) }
      .take(topN)
      .map { case (item, avg, votes) => (item, avg, votes, names(item)._1, names(item)._2) }
  }
}
