package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The three round-9 text-pipeline additions, against planted fixtures
  * that exercise the semantics the single-line gate corpus cannot:
  * cross-doc boilerplate lines actually struck ([[TextAnalysis
  * .lineDedupOf]]), each quality-filter rule firing in cascade order
  * ([[TextAnalysis.qualityFilterOf]]), and n-gram top-k counts with
  * deterministic tie-breaks ([[TextAnalysis.ngramTopKOf]]).
  */
class TextPipelineSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ---- text_line_dedup ---------------------------------------------

  test("line dedup strikes lines shared by >= minDocs docs and reassembles in order") {
    val fix = docs(
      1L -> "unique alpha\nCookie notice\nbody one",
      2L -> "Cookie notice\nbody two\nunique beta",
      3L -> "body three\nCookie notice",
      4L -> "all original\nnothing shared here")
    val out = TextAnalysis.lineDedupOf(fix, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean_text") === "unique alpha\nbody one")
    assert(out(2L).getAs[String]("clean_text") === "body two\nunique beta")
    assert(out(3L).getAs[String]("clean_text") === "body three")
    assert(out(4L).getAs[String]("clean_text") === "all original\nnothing shared here")
    assert(out(1L).getAs[Long]("n_removed") === 1L)
    assert(out(4L).getAs[Long]("n_removed") === 0L)
    assert(out(3L).getAs[Long]("n_lines") === 2L)
  }

  test("line dedup: trim-keyed matching, blank lines kept, within-doc repeats are not boilerplate") {
    val fix = docs(
      // same footer with different surrounding whitespace still matches
      1L -> "keep me\n  Footer 2026  ",
      2L -> "Footer 2026\nkeep me too",
      // "solo line" repeats only WITHIN doc 3 -> 1 distinct doc -> kept
      3L -> "solo line\nsolo line\n\ntail",
      4L -> "something else")
    val out = TextAnalysis.lineDedupOf(fix, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean_text") === "keep me")
    assert(out(2L).getAs[String]("clean_text") === "keep me too")
    // blank line survives (empty keys are never boilerplate), repeats kept
    assert(out(3L).getAs[String]("clean_text") === "solo line\nsolo line\n\ntail")
    assert(out(3L).getAs[Long]("n_removed") === 0L)
  }

  test("line dedup: a doc that is pure boilerplate empties to the empty string") {
    val fix = docs(
      1L -> "Subscribe now",
      2L -> "Subscribe now",
      3L -> "Subscribe now\nreal content")
    val out = TextAnalysis.lineDedupOf(fix, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("clean_text") === "")
    assert(out(1L).getAs[Long]("n_removed") === 1L)
    assert(out(3L).getAs[String]("clean_text") === "real content")
  }

  test("line dedup on the gate corpus is the identity (single-line docs, no exact dups)") {
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val out = TextAnalysis.lineDedup(spark, sf)
    assert(out.count() === base.count())
    assert(out.agg(sum(col("n_removed"))).head.getLong(0) === 0L)
    val mismatched = out.join(base, Seq("doc_id"))
      .filter(col("clean_text") =!= col("text")).count()
    assert(mismatched === 0L)
  }

  test("line dedup tick == batch restricted to delta, across every threshold-crossing shape") {
    // L1: 2 base + 1 delta (boiler before and after the tick)
    // L2: 1 base + 1 delta (crosses the threshold ONLY when merged)
    // L3: 2 delta docs    (delta-only boilerplate)
    // L4: 2 base docs     (boiler the delta never carries)
    val base = docs(
      1L -> "L1 shared\nbase one",
      2L -> "L1 shared\nL2 pair\nbase two",
      3L -> "L4 legacy\nbase three",
      4L -> "L4 legacy\nbase four")
    val delta = docs(
      10L -> "L1 shared\nL2 pair\ndelta one",
      11L -> "L3 fresh\ndelta two",
      12L -> "L3 fresh\ndelta three")
    val tick = TextAnalysis.lineDedupDeltaOf(
        TextAnalysis.lineCountsOf(base), delta, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(tick(10L).getAs[String]("clean_text") === "delta one")
    assert(tick(10L).getAs[Long]("n_removed") === 2L)
    assert(tick(11L).getAs[String]("clean_text") === "delta two")
    assert(tick(12L).getAs[String]("clean_text") === "delta three")
    // identity vs the batch operator restricted to delta ids
    val batch = TextAnalysis.lineDedupOf(base.unionByName(delta), minDocs = 2)
      .filter(col("doc_id") >= 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val tickSet = tick.values
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(tickSet === batch)
  }

  // ---- q_quality_filter --------------------------------------------

  test("quality filter: each rule fires, in cascade order") {
    val prose = Array.tabulate(30)(i => if (i % 6 == 0) "the" else s"w$i").mkString(" ")
    val fix = docs(
      1L -> prose,                                      // kept
      2L -> "too short to pass",                        // too_short
      // 30 long tokens, avg len > 8, includes a stopword so the rule
      // ORDER is what drops it into long_words
      3L -> Array.fill(29)("pneumonoultra").mkString(" ").concat(" the"),
      // 30 short tokens, none in the stopword list
      4L -> Array.tabulate(30)(i => s"tok$i").mkString(" "),
      // stopword-bearing prose but one token is 40% of the doc
      5L -> (Array.fill(12)("buy") ++ Array.tabulate(17)(i => s"w$i") ++ Array("the")).mkString(" "),
      // cascade: fails too_short AND no_stopword -> first rule wins
      6L -> "alpha beta gamma")
    val out = TextAnalysis.qualityFilterOf(fix)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("kept"))
    assert(out(1L).getAs[String]("first_fail") === null)
    assert(out(2L).getAs[String]("first_fail") === "too_short")
    assert(out(3L).getAs[String]("first_fail") === "long_words")
    assert(out(4L).getAs[String]("first_fail") === "no_stopword")
    assert(out(5L).getAs[String]("first_fail") === "repetitive")
    assert(out(6L).getAs[String]("first_fail") === "too_short")
    assert(!out(5L).getAs[Boolean]("kept"))
  }

  test("quality filter: max-token-share via sorted runs matches a brute recount") {
    val fix = docs(
      1L -> "a b a c a b a d a a",
      2L -> Array.tabulate(40)(i => s"t${i % 7}").mkString(" "))
    val rows = TextAnalysis.qualityFilterOf(fix, minTokens = 1,
      maxTopTokenRatio = 0.0).collect().map(r => r.getLong(0) -> r).toMap
    // ratio > 0.0 for every non-empty doc -> everything flags repetitive
    // UNLESS an earlier rule fired; with minTokens=1 and short tokens
    // the only reachable rules here are no_stopword/repetitive
    assert(rows(1L).getAs[String]("first_fail") === "repetitive")
    // doc 2 has no stopword -> cascade order puts no_stopword first
    assert(rows(2L).getAs[String]("first_fail") === "no_stopword")
  }

  // ---- q_ngram_topk ------------------------------------------------

  test("ngram top-k: counts, doc_freq, tie-break, and short-doc exclusion") {
    val fix = docs(
      1L -> "x y z x y z",       // "x y z" twice, "y z x" once, "z x y" once
      2L -> "x y z q",           // "x y z" once more, doc_freq 2
      3L -> "a b",               // < 3 tokens: contributes nothing
      4L -> "b c d")
    val out = TextAnalysis.ngramTopKOf(fix, n = 3, topK = 10).collect()
    assert(out.head.getString(0) === "x y z")
    assert(out.head.getLong(1) === 3L)
    assert(out.head.getLong(2) === 2L)
    // remaining grams all have freq 1 -> ordered by ngram asc
    val rest = out.tail.map(_.getString(0))
    assert(rest === rest.sorted)
    assert(!out.map(_.getString(0)).exists(_.startsWith("a b")))
  }

  test("ngram top-k on the gate corpus: k rows, freq monotone, doc_freq <= freq") {
    val out = TextAnalysis.ngramTopK(spark, sf, n = 3, topK = 50).collect()
    assert(out.length === 50)
    val freqs = out.map(_.getLong(1))
    assert(freqs.zip(freqs.tail).forall { case (a, b) => a >= b })
    assert(out.forall(r => r.getLong(2) <= r.getLong(1) && r.getLong(2) >= 1L))
  }

  // ---- q_ngram_topk_approx (Misra-Gries two-pass exact) --------------

  test("MG two-pass heavy hitters ≡ the exact plan on the gate corpus, at full and tight capacity") {
    def asTuples(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = asTuples(TextAnalysis.ngramTopK(spark, sf, n = 3, topK = 50).collect())
    // default capacity: never decrements at this SF (certificate = 0)
    val mg = asTuples(TextAnalysis.ngramTopKApprox(spark, sf, n = 3, topK = 50).collect())
    assert(mg === exact)
    // a capacity small enough to force decrement sweeps must still
    // return the identical certified list or throw — never a silently
    // different one. k=5 keeps the certificate satisfiable.
    val tight = try {
      Some(asTuples(TextAnalysis.ngramTopKApprox(spark, sf, n = 3, topK = 5,
        capacity = 512).collect()))
    } catch { case e: IllegalArgumentException =>
      assert(e.getMessage.contains("not certifiable")); None }
    tight.foreach(t => assert(t === exact.take(5)))
  }

  test("MG certificate: uncertifiable capacity fails loudly instead of returning a plausible list") {
    // 40 distinct grams of equal weight, INTERLEAVED so every summary
    // of capacity 2 churns (adjacent copies would let tiny partitions
    // count exactly): the k-th candidate's freq (3) cannot clear the
    // accumulated decrement bound
    val rows = (0 until 3).flatMap { rep =>
      (0 until 40).map(i => s"g$i a$i b$i") }.zipWithIndex
      .map { case (t, id) => (id.toLong, t) }
    val ex = intercept[IllegalArgumentException] {
      TextAnalysis.ngramTopKApproxOf(spark, docs(rows: _*), n = 3, topK = 10,
        capacity = 2, maxEscalations = 0).collect()
    }
    assert(ex.getMessage.contains("not certifiable"))
    // with escalation allowed (the registered default), the same
    // uncertifiable capacity self-heals: doublings reach a summary
    // size that certifies, and the answer equals the exact plan's
    val exact = TextAnalysis.ngramTopKOf(docs(rows: _*), n = 3, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val healed = TextAnalysis.ngramTopKApproxOf(spark, docs(rows: _*), n = 3,
        topK = 10, capacity = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(healed === exact)
  }

  test("MG result is partitioning-invariant when certified, even under forced decrement sweeps") {
    // every 4th doc repeats one hot 5-word sentence (3 distinct hot
    // 3-grams, 100 occurrences each); the rest are unique-cold. With
    // capacity 16 the summaries decrement (cold churn) but the bound
    // N/(cap+1) ≈ 53 stays under the hot count, so the top-3 is
    // certified exact regardless of how the stream was partitioned.
    val fix = (1L to 400L).map { i =>
      val t = if (i % 4 == 0) "the hot gram here now" else s"cold one $i x"
      (i, t) }
    val expected = Seq(
      ("gram here now", 100L), ("hot gram here", 100L), ("the hot gram", 100L))
    Seq(1, 7, 32).foreach { p =>
      val out = TextAnalysis.ngramTopKApproxOf(spark,
        docs(fix: _*).repartition(p), n = 3, topK = 3, capacity = 16)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(out === expected, s"partitioning p=$p changed the certified answer")
    }
  }
}
