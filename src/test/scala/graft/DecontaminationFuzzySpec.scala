package graft

import graft.operators.Decontamination
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Fuzzy (MinHash-band) decontamination. Gates:
  *  - planted near-verbatim eval leaks are FOUND (recall on plants =
  *    100% — a suffix-mutated copy shares almost every shingle, so it
  *    band-collides with probability ~1 and verifies at high Jaccard);
  *  - nothing verifies below the threshold (precision by construction:
  *    every reported row passed the exact-Jaccard check);
  *  - eval docs never appear as flagged TRAIN docs;
  *  - an unrelated corpus with NO overlap yields zero rows.
  */
class DecontaminationFuzzySpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("registered query finds every planted eval leak at high jaccard") {
    val out = Decontamination.flagContaminatedFuzzy(spark, sf).cache()
    val rows = out.collect()
    // the planted copies live at eval_id + 10000001
    val planted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 20 === 0).select(col("doc_id")).collect()
      .map(_.getLong(0) + 10000001L).toSet
    val flagged = rows.map(_.getLong(0)).toSet
    assert(planted.subsetOf(flagged),
      s"missed plants: ${(planted -- flagged).take(5)}")
    // every planted leak verifies above the derived floor: a t-token
    // doc has t-2 shingles and the 5-token suffix adds 5, so
    // J >= (t-2)/(t+3), which is >= 0.6 at the corpus minimum t = 10
    val plantedJ = rows.filter(r => planted(r.getLong(0)))
      .map(_.getAs[Double]("max_jaccard"))
    assert(plantedJ.forall(_ >= 0.6))
    assert(plantedJ.max >= 0.9)
    // no eval doc is ever flagged as a train doc
    assert(rows.forall(_.getLong(0) % 20 != 0))
    assert(rows.forall(_.getAs[Double]("max_jaccard") >= 0.5))
    assert(rows.forall(_.getAs[Long]("n_eval_hits") >= 1L))
    out.unpersist()
  }

  test("disjoint-vocabulary corpus yields zero contamination") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val words =
        if (i % 20 == 0) Array.tabulate(20)(j => s"eval${i}w$j")
        else Array.tabulate(20)(j => s"train${i}w$j")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    assert(Decontamination.flagContaminatedFuzzyOf(spark, docs).count() === 0L)
  }

  test("a half-overlap rewrite is caught while an unrelated doc is not") {
    import spark.implicits._
    val evalWords = Array.tabulate(60)(j => s"shared$j")
    val docs = Seq(
      0L -> evalWords.mkString(" "),                                   // eval
      // train doc: the eval text with a rewritten tail — shingle
      // Jaccard well above 0.5 but NOT byte-equal
      1L -> (evalWords.take(50) ++ Array.tabulate(10)(j => s"new$j")).mkString(" "),
      2L -> Array.tabulate(60)(j => s"other$j").mkString(" ")
    ).toDF("doc_id", "text")
    val out = Decontamination.flagContaminatedFuzzyOf(spark, docs, threshold = 0.5, evalMod = 20)
      .collect()
    assert(out.map(_.getLong(0)).toSet === Set(1L))
    assert(out.head.getAs[Double]("max_jaccard") >= 0.5)
  }
}
