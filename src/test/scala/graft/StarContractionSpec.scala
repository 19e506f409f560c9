package graft

import graft.operators.{Dedup, Graph}
import org.scalatest.funsuite.AnyFunSuite

/** Star-contraction connected components (the large-diameter scale
  * path) must produce the SAME partition as min-label propagation on
  * every graph shape — and do it in O(log n) rounds where propagation
  * needs O(diameter).
  */
class StarContractionSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("star contraction equals min-label propagation on chains, cliques, and forks") {
    import spark.implicits._
    // chain {0..5}, 4-clique {10..13}, star {20;21,22,23}, iso edge {30,31}
    val edges = (
      (0L until 5L).map(i => (i, i + 1)) ++
      (for (i <- 10L to 13L; j <- 10L to 13L if i < j) yield (i, j)) ++
      Seq((21L, 20L), (22L, 20L), (23L, 20L), (30L, 31L))
    ).toDF("src", "dst")
    val prop = labelMap(Graph.connectedComponents(edges))
    val star = labelMap(Graph.connectedComponentsStar(edges))
    assert(star === prop)
    assert(star(5L) === 0L && star(13L) === 10L && star(23L) === 20L && star(31L) === 30L)
  }

  test("a 64-node chain converges in O(log n) rounds, not O(diameter)") {
    import spark.implicits._
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val (out, rounds) = Graph.starWithRounds(chain, maxIter = 30)
    val labels = labelMap(out)
    assert(labels.size === 64)
    assert(labels.values.forall(_ === 0L))
    // diameter 63: propagation needs 63 rounds; contraction must be
    // logarithmic (2^10 ≫ 64 — generous slack over the ~log₂ bound)
    assert(rounds <= 10, s"star contraction took $rounds rounds on a 64-chain")
  }

  test("star contraction matches propagation on the corpus near-dup pair graph") {
    val edges = Dedup.ngramJaccard(spark, sf, threshold = 0.5)
      .selectExpr("doc_a as src", "doc_b as dst")
      .cache()
    assert(edges.count() > 0)
    val prop = labelMap(Graph.connectedComponents(edges))
    val star = labelMap(Graph.connectedComponentsStar(edges))
    assert(star === prop)
    edges.unpersist()
  }
}
