package graft

import graft.operators.Graph
import graft.recommender.Als
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r17 optimization-round seams:
  *
  *  - [[Graph.deriveCcPartitions]] — the CC iteration loops derive
  *    their shuffle-partition count from the measured edge count
  *    (1-task rounds on tiny pair graphs, conf-sized on big ones) and
  *    must restore the session conf afterwards;
  *  - [[Als.keyedTrainingSet]]'s `boundsProbe` — a cheap conservative
  *    superset-bounds frame replaces the full-raw bounds pass; wider
  *    probe bounds may only ever flip the decision TOWARD re-index
  *    (value-identical either way).
  */
class R17OptSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("deriveCcPartitions clamps to [1, session conf] on the row-count curve") {
    val conf = spark.sessionState.conf.numShufflePartitions
    assert(Graph.deriveCcPartitions(spark, 0L) === 1)
    assert(Graph.deriveCcPartitions(spark, 1L) === 1)
    assert(Graph.deriveCcPartitions(spark, Graph.CcRowsPerPartition) === 1)
    assert(Graph.deriveCcPartitions(spark, Graph.CcRowsPerPartition + 1) ===
      math.min(2, conf))
    assert(Graph.deriveCcPartitions(spark, Long.MaxValue / 4) === conf)
  }

  test("CC loops leave spark.sql.shuffle.partitions untouched and labels unchanged") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("src", "dst")
    val prop = Graph.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    val star = Graph.connectedComponentsStar(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
    assert(prop === expected)
    assert(star === expected)
  }

  test("boundsProbe: in-range probe keeps the direct path, out-of-range probe forces re-index, values identical") {
    import spark.implicits._
    val raw = Seq((1L, 100L, 4.0f), (2L, 100L, 3.0f), (2L, 200L, 5.0f))
      .toDF("user_id", "item_id", "rating")
    // in-range probe → direct (no maps)
    val inProbe = Seq((1L, Some(200L)), (2L, None: Option[Long]))
      .toDF("user_id", "item_id")
    val direct = Als.keyedTrainingSet(raw, boundsProbe = Some(inProbe))
    assert(direct.userMap.isEmpty && direct.itemMap.isEmpty)
    // probe bounds OUTSIDE int32 (conservative supersets are allowed
    // to be wider than raw) → the safe direction: re-index engages
    // even though raw itself would fit
    val wideProbe = Seq((1L << 40, Option(100L)), (1L, Option(200L)))
      .toDF("user_id", "item_id")
    val reidx = Als.keyedTrainingSet(raw, boundsProbe = Some(wideProbe))
    assert(reidx.userMap.nonEmpty && reidx.itemMap.nonEmpty)
    // the two paths train-side values agree after mapping back
    val d = direct.train.select(col("user"), col("item"), col("rating"))
      .collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getFloat(2))).toSet
    val m = reidx.train
      .join(reidx.userMap.get, Seq("user")).join(reidx.itemMap.get, Seq("item"))
      .select(col("user_id"), col("item_id"), col("rating"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getFloat(2))).toSet
    assert(m === d)
    reidx.release()
  }
}
