package graft.perfbench

/** Self-check of the seeded generators, run by perfbench/tests: the same
  * seed must give identical inputs and another seed different ones, and
  * the planted document pairs must be what the doc_dedup checks assume.
  * Needs no Spark session. Prints one line per check; exits 1 on a
  * failure.
  */
object GenCheck {
  private val shape = Gen.Retail(customers = 50, parts = 80, orders = 300)

  private def retail(seed: Long) = {
    val r = Gen.retailRows(seed, shape)
    (r.part.map(_.toSeq), r.orders.map(_.toSeq), r.lineitem.map(_.toSeq))
  }

  private def ratingBatches(seed: Long, batches: Int) = {
    val ref = new Gen.RatingsRef
    Reference.interactions(Gen.retailRows(1L, shape)).foreach(i => ref.put(i.user, i.item, i.rating))
    val gen = new Gen.RatingBatches(seed, ref, shape.parts, 20)
    val out = (0 until batches).map(_ => gen.next())
    (out, ref.toMap)
  }

  def main(args: Array[String]): Unit = {
    val docs = (seed: Long) => (0L until 200L).map(Gen.docText(seed, _))
    val checks = Seq(
      "retail tables repeat under one seed" -> (retail(7L) == retail(7L)),
      "retail tables differ across seeds" -> (retail(7L) != retail(8L)),
      "rating batches repeat under one seed" -> (ratingBatches(7L, 3) == ratingBatches(7L, 3)),
      "rating batches differ across seeds" -> (ratingBatches(7L, 3)._1 != ratingBatches(8L, 3)._1),
      "rating batches have distinct keys" ->
        ratingBatches(7L, 3)._1.forall(b => b.map(m => (m.user_id, m.item_id)).distinct.size == b.size),
      "documents repeat under one seed" -> (docs(7L) == docs(7L)),
      "documents differ across seeds" -> (docs(7L) != docs(8L)),
      "planted pairs clear the 0.5 threshold" -> Gen.plantedPairs(0L, 200L).forall { case (a, b) =>
        Gen.shingleJaccard(Gen.docText(7L, a), Gen.docText(7L, b)) >= 0.8 },
      "planted copies are exact" -> (0L until 200L).filter(_ % 50 == 49).forall(b =>
        Gen.docText(7L, b) == Gen.docText(7L, b - 2)),
      "unplanted neighbours stay far apart" -> (0L until 199L).filter(_ % 50 < 46).forall(a =>
        Gen.shingleJaccard(Gen.docText(7L, a), Gen.docText(7L, a + 1)) < 0.2))
    checks.foreach { case (name, ok) => println(s"${if (ok) "ok" else "FAILED"} $name") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
