package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Curation, Similarity}

/** Planted-structure gate for prototype pruning (`q_proto_prune` is
  * rows-only — the k-means fit has no SQL oracle, so this spec is its
  * correctness gate): two well-separated latent clusters, each built
  * as a dense PROTOTYPICAL clump (near-identical to the cluster
  * direction) plus a spread-out tail of varied small tilts (the tilts
  * cancel in the mean, so the fitted centroid stays on the direction
  * and the clump is unambiguously most prototypical — and every tail
  * member stays far closer to its own cluster than to the other, so
  * k=2 recovers the latent split). The clump must be pruned ahead of
  * the tail, per-cluster keep counts must hit the exact
  * floor(pruneFrac·n_c) rule, and — the operator's documented
  * determinism contract — verdicts under FROZEN centroids must be
  * partitioning-invariant (rounded-cosine + id tie-break ranking; the
  * k-means FIT itself is partition-sensitive at init, which is why
  * every stored rung in this codebase freezes its quantizer).
  */
class CurationSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // two latent directions in R^4; per cluster: ids ..0-19 a clump at
  // the direction, ids ..20-199 a tail tilted by ±{0.4,0.5,0.6} in a
  // single off-axis dim (signs/magnitudes cycle, so the mean tilt ≈ 0)
  private def vecOf(id: Long): Seq[Double] = {
    val inB = id >= 200
    val local = (id % 200).toInt
    if (local < 20) {
      val jitter = 0.001 * (local + 1)
      if (inB) Seq(jitter, 0.0, 1.0, 0.0) else Seq(1.0, jitter, 0.0, 0.0)
    } else {
      val mag = 0.4 + 0.1 * (local % 3)
      val tilt = (if (local % 2 == 0) mag else -mag)
      if (inB) Seq(0.0, tilt, 1.0, 0.0) else Seq(1.0, 0.0, tilt, 0.0)
    }
  }

  private lazy val vecs = (0L until 400L).map(id => (id, vecOf(id)))
    .toDF("vec_id", "v")

  test("prototypical clumps pruned first; exact per-cluster floor keep rule") {
    val out = Curation.protoPruneOn(spark, vecs, pruneFrac = 0.25, nlist0 = 2)
      .select("vec_id", "cluster", "keep")
      .as[(Long, Int, Boolean)].collect()
    assert(out.length === 400)
    // ground-truth membership (not kmeans ids): 200 per latent cluster,
    // floor(0.25·200) = 50 dropped each
    val (a, b) = out.partition(_._1 < 200L)
    assert(a.count(!_._3) === 50, s"cluster A dropped ${a.count(!_._3)}")
    assert(b.count(!_._3) === 50, s"cluster B dropped ${b.count(!_._3)}")
    // every clump vector (the 20 most prototypical of each cluster)
    // is inside the dropped 50
    val dropped = out.filter(!_._3).map(_._1).toSet
    (0L until 20L).foreach(i => assert(dropped.contains(i), s"clump id $i kept"))
    (200L until 220L).foreach(i => assert(dropped.contains(i), s"clump id $i kept"))
    // kmeans must not have merged or crossed the latent clusters
    assert(a.map(_._2).distinct.length === 1 && b.map(_._2).distinct.length === 1
      && a.head._2 != b.head._2)
  }

  test("stored rung: persisted-quantizer verdicts equal the in-query fit at equal knobs") {
    // same data, same seed, same hash-sample ⇒ the stored rung's
    // persisted fit and the in-query fit converge to the same
    // quantizer, and verdicts under the loaded artifact are
    // byte-identical (the round-trip require inside the operator
    // additionally pins artifact ≡ trained centroids)
    val sf = TestSpark.sf
    val n = graft.Tables.embeddings(spark, sf).count()
    val nlist = Similarity.deriveSemanticNlist(n)
    val stored = Curation.protoPruneStored(spark, sf)
      .as[(Long, Int, Double, Boolean)].collect().toSet
    val inQuery = Curation.protoPrune(spark, sf)
      .as[(Long, Int, Double, Boolean)].collect().toSet
    assert(stored === inQuery)
    assert(stored.nonEmpty && nlist >= 16)
  }

  test("q_corpus_curate composition ≡ the standalone operators chained on the same centroids") {
    import graft.operators.{Lm, SeqPack}
    // real tables + a frozen 2-centroid quantizer over the fixture
    // geometry is too small to exercise the LM phase, so run on the
    // test-SF corpus with a derived-nlist frozen quantizer
    val sf = TestSpark.sf
    val docs = graft.Tables.documents(spark, sf)
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val c = Similarity.withVecNorm(spark, vecs)
    val dir = java.nio.file.Files.createTempDirectory("curate_cents").toString
    val cents = Similarity.trainQuantizer(spark, c,
      dir, Similarity.deriveSemanticNlist(c.count()))
    val assigned = Similarity.assignClusters(c, cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster")).cache()
    val target = docs.filter(col("lang") === "en" && col("doc_id") % 10 === 0)

    val got = Curation.curateFrom(spark, docs, assigned, cents,
        threshold = 0.92, pruneFrac = 0.25, target = target)
      .as[(Long, Int, Int, Long, Int)].collect().toSet

    // the same funnel, built by the spec from the PUBLIC operators
    val keep1 = Similarity.semanticVerdicts(assigned, 0.92)
      .filter(col("keep")).select("vec_id")
    val keep2 = Curation.protoVerdicts(
        assigned.join(keep1, Seq("vec_id"), "left_semi"), cents, 0.25)
      .filter(col("keep")).select("vec_id")
    val kept = docs.join(keep2.withColumnRenamed("vec_id", "doc_id"),
      Seq("doc_id"), "left_semi")
    val (uni, bi) = Lm.fitCounts(target)
    val sel = Lm.withTerciles(Lm.scoreOf(kept, uni, bi))
      .filter(col("tercile") <= 2).select("doc_id")
    val finalDocs = kept.join(sel, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    val nPieces = finalDocs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(coalesce(sum(expr("(n + 511) div 512")), lit(0L))).head.getLong(0)
    val expected = SeqPack.packBestFitOf(finalDocs, 512,
        SeqPack.deriveBfdBuckets(nPieces))
      .as[(Long, Int, Int, Long, Int)].collect().toSet

    assert(got.nonEmpty)
    assert(got === expected)
    // the funnel really narrows: packed docs ⊂ corpus
    assert(got.map(_._1).size < docs.count())
    assigned.unpersist()
    ()
  }

  test("curate with frozen LM artifacts ≡ the spec-chained frozen operators; select agrees with in-query ntile") {
    import graft.operators.{Lm, SeqPack}
    val sf = TestSpark.sf
    val docs = graft.Tables.documents(spark, sf)
    val vecs = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val c = Similarity.withVecNorm(spark, vecs)
    val root = java.nio.file.Files.createTempDirectory("curate_frozen").toString
    val cents = Similarity.trainQuantizer(spark, c,
      s"$root/cents", Similarity.deriveSemanticNlist(c.count()))
    val assigned = Similarity.assignClusters(c, cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster")).cache()
    val target = docs.filter(col("lang") === "en" && col("doc_id") % 10 === 0)

    val got = Curation.curateFrom(spark, docs, assigned, cents,
        threshold = 0.92, pruneFrac = 0.25, target = target,
        freezeLmTo = Some((s"$root/lm_counts", s"$root/lm_cuts")))
      .as[(Long, Int, Int, Long, Int)].collect().toSet

    // the same funnel via the PUBLIC frozen-artifact operators
    val keep1 = Similarity.semanticVerdicts(assigned, 0.92)
      .filter(col("keep")).select("vec_id")
    val keep2 = Curation.protoVerdicts(
        assigned.join(keep1, Seq("vec_id"), "left_semi"), cents, 0.25)
      .filter(col("keep")).select("vec_id")
    val kept = docs.join(keep2.withColumnRenamed("vec_id", "doc_id"),
      Seq("doc_id"), "left_semi")
    Lm.buildLmArtifact(target, s"$root/lm_counts2")
    val scored = Lm.scoreWithArtifact(spark, s"$root/lm_counts2", kept)
    Lm.buildLmCutpoints(scored, s"$root/lm_cuts2")
    val selFrozen = Lm.withStoredTerciles(spark, scored, s"$root/lm_cuts2")
      .filter(col("tercile") <= 2).select("doc_id")
    val finalDocs = kept.join(selFrozen, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    val nPieces = finalDocs
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(coalesce(sum(expr("(n + 511) div 512")), lit(0L))).head.getLong(0)
    val expected = SeqPack.packBestFitOf(finalDocs, 512,
        SeqPack.deriveBfdBuckets(nPieces))
      .as[(Long, Int, Int, Long, Int)].collect().toSet
    assert(got.nonEmpty)
    assert(got === expected)

    // the frozen artifacts really landed (day-N batches reuse them)
    assert(spark.read.parquet(s"$root/lm_counts").count() > 0)
    assert(spark.read.parquet(s"$root/lm_cuts").count() > 0)

    // the frozen value-cut select agrees with the in-query ntile
    // select within the LmSpec bound (exact percentile at this SF —
    // only boundary-tie docs may differ)
    val (uni, bi) = Lm.fitCounts(target)
    val selIn = Lm.withTerciles(Lm.scoreOf(kept, uni, bi))
      .filter(col("tercile") <= 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val selFr = selFrozen.collect().map(_.getLong(0)).toSet
    val overlap = (selIn & selFr).size.toDouble / math.max(selIn.size, selFr.size)
    assert(overlap >= 0.95, f"frozen vs in-query select agreement $overlap%.3f")
    assigned.unpersist()
    ()
  }

  test("verdicts under frozen centroids are partitioning-invariant") {
    val cents: Seq[(Int, Seq[Double])] = Seq(
      (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 0.0, 1.0, 0.0)))
    def run(df: org.apache.spark.sql.DataFrame) =
      Curation.protoVerdicts(
        Similarity.assignClusters(Similarity.withVecNorm(spark, df), cents),
        cents, 0.25)
        .select("vec_id", "proto", "keep")
        .as[(Long, Double, Boolean)].collect().toSet
    assert(run(vecs.repartition(7)) === run(vecs))
  }
}
