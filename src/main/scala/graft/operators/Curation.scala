package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cluster-based prototypicality pruning (Sorscher et al. 2022,
  * "Beyond neural scaling laws: beating power law scaling via data
  * pruning" — SSL prototypes; the method D4 (Tirumala et al. 2023)
  * chains AFTER SemDeDup for its measured LLM-pretraining gains):
  * k-means-cluster the embedding space, score every vector by cosine
  * to its OWN centroid ("prototypicality"), and within each cluster
  * drop the most prototypical `pruneFrac` — for large corpora the
  * published result is that keeping the HARD, diverse examples and
  * shedding the easy/redundant core beats random pruning.
  *
  * The curation triad this completes: `dedup_semantic` removes
  * near-DUPLICATES (pairwise cosine within clusters), `q_dsir_sample`
  * / `text_lm_score` select by target-LIKENESS, this prunes by
  * within-cluster REDUNDANCY — no pairwise term at all, so it reaches
  * the regime even Σ n_c² is too hot for.
  *
  * Spark shape (the established quantizer seam): centroids train on
  * the content-hash sample and ride as a literal; assignment and the
  * centroid-cosine are MAP-SIDE ([[Similarity.assignClusters]] —
  * every vector scores nlist broadcast centroids, no shuffle); the
  * only exchange is the cluster-keyed window that ranks
  * prototypicality per cluster — per-CLUSTER windows parallelize, and
  * `nlist` scale-derives (~1k vectors/cluster,
  * [[Similarity.deriveSemanticNlist]]) so per-window work stays flat
  * at any corpus size. Determinism: 4-decimal-rounded cosine (the
  * knnBrute rule) + vec_id tie-break, so the pruned SET is
  * partitioning/engine-independent given the trained centroids.
  *
  * Output: one row per vector — (vec_id, cluster, proto, keep) — the
  * audit shape (`dedup_semantic`'s verdict convention).
  */
object Curation {

  /** Per-cluster prototype pruning over an injectable (vec_id, v)
    * frame. `nlist0` ≤ 0 scale-derives. Keep rule: within a cluster
    * of n_c vectors, the floor(pruneFrac·n_c) most prototypical are
    * dropped (rank by rounded cosine DESC, vec_id ASC).
    */
  private[graft] def protoPruneOn(spark: SparkSession, vecs: DataFrame,
      pruneFrac: Double, nlist0: Int = -1): DataFrame = {
    val c = Similarity.withVecNorm(spark, vecs)
    val n = c.count()
    val nlist = if (nlist0 > 0) nlist0 else Similarity.deriveSemanticNlist(n)
    val cents = Similarity.fitCoarseCentroids(spark,
      Similarity.coarseTrainSample(c, nlist, n), nlist)
    protoVerdicts(Similarity.assignClusters(c, cents), cents, pruneFrac)
  }

  /** Verdicts over an assigned (vec_id, v, norm, cluster) frame under
    * FROZEN centroids — separated from the fit so a stored/streaming
    * rung can reuse it against a persisted quantizer.
    *
    * The centroids ride as a LITERAL map keyed by cluster id (the
    * [[Similarity.assignClusters]] centsLit pattern, bounded by
    * nlist) — the centroid cosine is computed map-side on the scan
    * with NO join at all. (The first cut joined a broadcast centroid
    * frame and computed the cosine with a cross-side `expr`; on a
    * cold session Catalyst bound the expression against the build
    * side only — INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND. The literal
    * form is both the bug-free and the cheaper plan.)
    */
  private[graft] def protoVerdicts(assigned: DataFrame,
      cents: Seq[(Int, Seq[Double])], pruneFrac: Double): DataFrame = {
    graft.functions.VectorFunctions.register(assigned.sparkSession)
    // cluster-KEYED map literal (vector, driver-precomputed norm):
    // centroid lookup is an O(1)-ish element_at instead of a linear
    // filter over the nlist-sized array per row
    val centsLit = typedLit(cents.map { case (i, cv) =>
      i -> (cv, math.sqrt(cv.map(x => x * x).sum))
    }.toMap)
    val scored = assigned
      .withColumn("ce", element_at(centsLit, col("cluster")))
      .withColumn("proto",
        round(expr("graft_dot(v, ce._1)") / (col("norm") * col("ce._2")), 4))
      .select(col("vec_id"), col("cluster"), col("proto"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("proto").desc, col("vec_id").asc)
    val wc = Window.partitionBy(col("cluster"))
    scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n_c", count(lit(1)).over(wc))
      // snap the product to a 1e-6 grid BEFORE floor: in pure double
      // arithmetic a non-dyadic fraction can land a hair below the
      // exact rational (0.29·100 = 28.999999999999996 → floor 28 where
      // the documented exact floor(frac·n_c) rule says 29)
      .withColumn("keep",
        col("rn") > floor(round(lit(pruneFrac) * col("n_c"), 6)))
      .select(col("vec_id"), col("cluster"), col("proto"), col("keep"))
  }

  /** Registered `q_proto_prune`: prune the most prototypical 25% per
    * cluster over the embeddings table. Rows-only (the k-means fit is
    * engine-specific); CurationSpec plants the structure — a dense
    * clump of near-identical vectors must be pruned ahead of the
    * spread-out tail, per-cluster keep counts must hit the exact
    * floor rule, and the verdict set must be partitioning-invariant.
    */
  def protoPrune(spark: SparkSession, sfDir: String,
                 pruneFrac: Double = 0.25): DataFrame = {
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    protoPruneOn(spark, vecs, pruneFrac)
  }

  /** Registered `q_corpus_curate` — the curation triad composed at
    * its deployment shape (the D4 recipe, Tirumala et al. 2023:
    * SemDeDup then SSL-prototype pruning over ONE shared clustering,
    * then selection, then packing — the pieces every r11/r12 rung was
    * built for, now one registered pipeline):
    *
    *  1. '''semantic dedup''' (Abbas et al.) — drop near-duplicate
    *     documents by within-cluster pairwise cosine;
    *  2. '''prototype pruning''' (Sorscher et al.) — among the
    *     survivors, shed the most prototypical `pruneFrac` of each
    *     cluster (the easy, redundant core);
    *  3. '''LM selection''' (CCNet) — score survivors under the
    *     target-corpus LM (fit on the FULL corpus's target slice:
    *     production fits the reference LM independently of the batch
    *     being curated) and keep the head+middle terciles;
    *  4. '''packing''' (Ding et al. BFD) — lay the kept documents
    *     into fixed-budget training rows, truncation-free.
    *
    * ONE k-means fit serves phases 1–2 (D4's own economy — both need
    * the same cluster geometry, so assignment happens once); each
    * phase runs under a PhaseTimer with its survivor count logged.
    * Rows-only (k-means + the composition have no SQL form);
    * CurationSpec pins composition ≡ running the published operators
    * in sequence on the same frozen centroids.
    */
  def corpusCurate(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.92,
                   pruneFrac: Double = 0.25,
                   artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val c = Similarity.withVecNorm(spark, vecs)
    val n = c.count()
    val nlist = Similarity.deriveSemanticNlist(n)
    val cents = Similarity.fitCoarseCentroids(spark,
      Similarity.coarseTrainSample(c, nlist, n), nlist)
    // r14: the selection LM runs the FROZEN artifact lifecycle
    // (counts + cutpoints persisted per run — day-N batches reuse the
    // same dirs), not an in-query refit (the r13 verdict's #9 nit)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    curateFrom(spark, docs, Similarity.assignClusters(c, cents)
        .select(col("vec_id"), col("v"), col("norm"), col("cluster")),
      cents, threshold, pruneFrac,
      target = docs.filter(col("lang") === "en" && col("doc_id") % 10 === 0),
      freezeLmTo = Some((s"$artifactDir/curate_lm_counts_$runId",
        s"$artifactDir/curate_lm_cuts_$runId")))
  }

  /** The pipeline under FROZEN centroids — separated so the spec can
    * pin composition against the standalone operators on equal
    * quantizers. Each phase's keep set is materialized (cache +
    * count) so the PhaseTimer numbers measure real work and the
    * funnel counts land in the log.
    *
    * `freezeLmTo` (r14, the r13 verdict's #9): when set to
    * (countsDir, cutsDir), the select phase runs the
    * `text_lm_frozen` ARTIFACT lifecycle instead of an in-query
    * fit+ntile: the counts artifact is built from `target`
    * ([[Lm.buildLmArtifact]]), the kept set is scored THROUGH it
    * ([[Lm.scoreWithArtifact]]), per-language tercile cutpoints are
    * frozen from that reference scoring ([[Lm.buildLmCutpoints]] —
    * the freeze-day kept distribution IS the reference the selection
    * gates against), and labeling is the broadcast-join
    * [[Lm.withStoredTerciles]] — no window, no sort, and the two
    * artifacts persist for day-N batches to reuse (score + label
    * against the SAME dirs: cross-day-consistent selection, the
    * CCNet deployment). The in-query branch (None) stays as the
    * oracle-able reference; LmSpec bounds their agreement and
    * CurationSpec pins both compositions.
    */
  private[graft] def curateFrom(spark: SparkSession, docs: DataFrame,
      assigned0: DataFrame, cents: Seq[(Int, Seq[Double])],
      threshold: Double, pruneFrac: Double, target: DataFrame,
      freezeLmTo: Option[(String, String)] = None): DataFrame = {
    val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Curation")
    val assigned = assigned0.cache()
    // r18, guide §2.6: the selection LM's COUNTS artifact is built from
    // `target` alone — independent of the semantic/proto keep funnel,
    // whose phase barriers (cache+count per phase) leave executors
    // idle. Build it on a helper thread; the select phase awaits it
    // before scoring. Values unchanged: same artifact, same dir, and
    // the cutpoints still freeze AFTER the funnel (they depend on the
    // kept set). The phase wall is recorded under "select" either way.
    val (kept, selected) = Overlap.scoped { legs =>
      val lmCounts = freezeLmTo.map { case (countsDir, _) =>
        legs.start("curate-lm-counts") {
          graft.PhaseTimer.timed("q_corpus_curate", "select") {
            Lm.buildLmArtifact(target, countsDir)
          }
        }
      }
      val keep1 = graft.PhaseTimer.timed("q_corpus_curate", "semantic") {
        val k = Similarity.semanticVerdicts(assigned, threshold)
          .filter(col("keep")).select(col("vec_id")).cache()
        log.info(s"q_corpus_curate semantic: ${k.count()} of ${assigned.count()} kept")
        k
      }
      val keep2 = graft.PhaseTimer.timed("q_corpus_curate", "proto") {
        val k = protoVerdicts(assigned.join(keep1, Seq("vec_id"), "left_semi"),
            cents, pruneFrac)
          .filter(col("keep")).select(col("vec_id")).cache()
        log.info(s"q_corpus_curate proto: ${k.count()} kept")
        k
      }
      val kept = docs.join(keep2.withColumnRenamed("vec_id", "doc_id"),
        Seq("doc_id"), "left_semi")
      val selected = graft.PhaseTimer.timed("q_corpus_curate", "select") {
        val labeled = freezeLmTo match {
          case Some((countsDir, cutsDir)) =>
            lmCounts.foreach(_.await()) // scoring reads the counts artifact
            val scored = Lm.scoreWithArtifact(spark, countsDir, kept)
            Lm.buildLmCutpoints(scored, cutsDir)
            Lm.withStoredTerciles(spark, scored, cutsDir)
          case None =>
            val (uni, bi) = Lm.fitCounts(target)
            Lm.withTerciles(Lm.scoreOf(kept, uni, bi))
        }
        val s = labeled.filter(col("tercile") <= 2).select(col("doc_id")).cache()
        log.info(s"q_corpus_curate select: ${s.count()} kept")
        s
      }
      (kept, selected)
    }
    val finalDocs = kept.join(selected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    graft.PhaseTimer.timed("q_corpus_curate", "pack") {
      val nPieces = finalDocs
        .select(size(split(col("text"), " ")).cast("long").as("n"))
        .agg(coalesce(sum(expr("(n + 511) div 512")), lit(0L)))
        .head.getLong(0)
      SeqPack.packBestFitOf(finalDocs, 512, SeqPack.deriveBfdBuckets(nPieces))
    }
  }

  /** Registered `q_proto_prune_store` — the family's frozen-quantizer
    * rung (every clustering operator here freezes its fit: the
    * k-means init is partition-sensitive, so reproducible production
    * verdicts require centroids AT REST, not refit): train + persist
    * the quantizer once ([[Similarity.trainQuantizer]]'s tiny
    * (cluster, cv) parquet artifact, the IVF/semantic-dedup seam),
    * load it back, verdict the batch map-side under the loaded
    * literal. Given equal centroids the verdicts are byte-identical
    * to the in-query fit (CurationSpec pins parity), so batches
    * scored on different days under one artifact are mutually
    * consistent — the property the in-query form cannot offer.
    */
  def protoPruneStored(spark: SparkSession, sfDir: String,
      pruneFrac: Double = 0.25,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val dir = s"$artifactDir/proto_cents_$digest"
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val c = Similarity.withVecNorm(spark, vecs)
    val n = c.count()
    val nlist = Similarity.deriveSemanticNlist(n)
    val cents = graft.PhaseTimer.timed("q_proto_prune_store", "fit") {
      Similarity.trainQuantizer(spark, c, dir, nlist, n)
    }
    val loaded = Similarity.loadCentroids(spark, dir)
    require(loaded == cents, "centroid artifact round-trip changed the quantizer")
    protoVerdicts(Similarity.assignClusters(c, loaded), loaded, pruneFrac)
  }
}
