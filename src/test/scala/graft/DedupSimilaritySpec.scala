package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("exact dedup partitions the corpus (group sizes sum to doc count)") {
    val total = Dedup.exact(spark, sf).agg(sum("n_copies")).head().getLong(0)
    assert(total === Tables.documents(spark, sf).count())
  }

  test("minhash verified jaccard IS the exact ngram jaccard on shared pairs") {
    val mh = Dedup.minhashLsh(spark, sf)
      .withColumnRenamed("jaccard", "mh_jaccard")
      .withColumnRenamed("est_jaccard", "est")
    val exact = Dedup.ngramJaccard(spark, sf, threshold = 0.5)
    val joined = mh.join(exact, Seq("doc_a", "doc_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      // the verify join computes the same exact Jaccard the inverted
      // index does — equality, not approximation
      assert(r.getAs[Double]("mh_jaccard") === r.getAs[Double]("jaccard"))
      // and the signature estimate still tracks it (calibration)
      assert(math.abs(r.getAs[Double]("est") - r.getAs[Double]("jaccard")) < 0.2)
    }
  }

  test("registered embedLshPlanted recalls the all-pairs baseline on planted dups") {
    val corpus = Dedup.plantedCorpus(spark, sf, nPlant = 50)
    val lsh = Dedup.embedLshPlanted(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // all-pairs exact baseline over the SAME augmented corpus
    val exact = Dedup.embedCosineOn(spark, corpus, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(exact.size >= 50) // every planted copy is a true near-dup
    assert(lsh.subsetOf(exact)) // precision 1.0: candidates re-verified exactly
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("wide hyperplane signature: word 0 is the 64-bit signature, width checked") {
    graft.functions.VectorFunctions.register(spark)
    val rows = Tables.embeddings(spark, sf).limit(20)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(
        expr("graft_hyperplane64(v)").as("sig64"),
        expr("graft_hyperplane(v, 2)").as("sigw"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sigw = r.getAs[scala.collection.Seq[Long]]("sigw")
      assert(sigw.length == 2)
      assert(sigw.head == r.getAs[Long]("sig64"),
        "widening must preserve the 64-bit prefix (re-derive, never re-shuffle)")
    }
    val bad = intercept[Exception] {
      Tables.embeddings(spark, sf).limit(1)
        .select(col("embedding").cast("array<double>").as("v"))
        .select(expr("graft_hyperplane(v, 17)")).collect()
    }
    assert(bad.getMessage != null)
  }

  test("registered wide-band embed-LSH recalls planted dups with 32-bit bands") {
    val corpus = Dedup.plantedCorpus(spark, sf, nPlant = 50)
    val lsh = Dedup.embedLshWidePlanted(spark, sf)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val exact = Dedup.embedCosineOn(spark, corpus, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(exact.size >= 50)
    assert(lsh.subsetOf(exact)) // precision 1.0: candidates re-verified exactly
    // the planted near-identical pairs (cos ≈ 0.999) are the wide
    // detector's contract; borderline-0.9 corpus pairs may drop
    val planted = exact.filter { case (a, b) => b == a + 1000000L }
    val recall = planted.count(lsh.contains).toDouble / planted.size
    assert(recall >= 0.9, s"planted recall $recall (${lsh.size}/${planted.size})")
  }

  test("sub-3-word docs (empty shingle sets) don't break minhash verification") {
    import spark.implicits._
    // empty shingle sets share the all-sentinel signature, so these
    // two docs collide in every LSH band; the verify step must define
    // their jaccard (0) instead of dividing 0/0
    val docs = Seq((1L, "hi there"), (2L, "yo"), (3L, "short one too"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLshOn(spark, docs, threshold = 0.5).collect()
    assert(out.isEmpty) // nothing real to match; and no ANSI abort
  }

  test("connected components resolve transitive chains to the min label") {
    import spark.implicits._
    // two chains and an isolated edge: {1,2,3,4} via 1-2,2-3,3-4; {10,11}
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val labels = operators.Graph.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("dedup clusters cover the corpus and agree with the pair graph") {
    val clusters = Dedup.dedupClusters(spark, sf).cache()
    // a complete manifest: every doc exactly once
    assert(clusters.count() === Tables.documents(spark, sf).count())
    val byDoc = clusters.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // every detected pair ended up in the same cluster (same edge
    // source + threshold as the registered query)
    val pairs = Dedup.ngramJaccard(spark, sf, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) => assert(byDoc(a)._1 === byDoc(b)._1) }
    // keeper = the cluster's min doc_id, exactly one per cluster
    byDoc.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.keys.min === cid)
      assert(members.count(_._2._2) === 1)
      assert(byDoc(cid)._2)
    }
    clusters.unpersist()
  }

  test("incremental exact dedup merges groups across the tick boundary") {
    val inc = Dedup.exactIncremental(spark, sf).cache()
    // the planted copies produce real 2-member groups whose keeper is
    // the BASE-side original and whose count spans both sides
    val merged = inc.filter(col("n_copies") === 2).collect()
    assert(merged.length === 50)
    merged.foreach { r =>
      val keep = r.getAs[Long]("keep_doc_id")
      assert(keep % 10 === 3 && keep < 10000000L) // original, never the copy
    }
    // tick payload ⊂ merged state, and exactly the touched groups
    val delta = Dedup.exactDelta(spark, sf)
    assert(delta.join(inc, Seq("text_md5", "keep_doc_id", "n_copies"), "left_anti").count() === 0)
    assert(delta.count() < inc.count()) // never a full-store re-emit
    inc.unpersist()
  }

  /** One banded ladder family: its registered tick (one BucketStore
    * tick over the planted corpus, registered under both its `_inc`
    * and `_store` keys), the batch detector the tick must agree with,
    * the corpus both run over, and where the planted copies' ids start.
    * The tick runs once per family; its `_inc` and `_store` tests below
    * both read that one run.
    */
  private case class LadderFamily(name: String, store: String, idCol: String,
      aCol: String, bCol: String,
      corpus: () => org.apache.spark.sql.DataFrame, unplanted: () => Long,
      batch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      tick: String => org.apache.spark.sql.DataFrame, plantedFrom: Long) {
    lazy val run: LadderRun = {
      val cut = math.floor(unplanted() * 0.8).toLong
      val input = corpus().cache()
      def pairs(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getAs[Long](aCol), r.getAs[Long](bCol))).toSet
      val full = pairs(batch(input).collect())
      val base = pairs(batch(input.filter(col(idCol) < cut)).collect())
      val root = java.nio.file.Files.createTempDirectory(s"ladder_$name").toString
      val rows = tick(root).collect()
      val Array(storeRoot) = new java.io.File(root).listFiles().filter(_.isDirectory)
      val stored = graft.streaming.BucketStore.readAll(spark, s"$storeRoot/rows")
        .select(idCol).collect().map(_.getLong(0)).toSet
      val ids = input.select(idCol).collect().map(_.getLong(0)).toSet
      input.unpersist()
      spark.catalog.clearCache()
      LadderRun(cut, full, base, rows, pairs(rows), stored, ids)
    }
  }

  private case class LadderRun(cut: Long, full: Set[(Long, Long)], base: Set[(Long, Long)],
      rows: Array[org.apache.spark.sql.Row], tick: Set[(Long, Long)],
      stored: Set[Long], corpusIds: Set[Long])

  private val ladder = Seq(
    LadderFamily("minhash", "signature", "doc_id", "doc_a", "doc_b",
      () => Dedup.dupPlantedDocs(spark, sf), () => Tables.documents(spark, sf).count(),
      Dedup.minhashLshOn(spark, _, threshold = 0.5),
      root => Dedup.minhashLshIncremental(spark, sf, artifactDir = root), 10000000L),
    // fingerprint-identical planted copies pair their originals at hamming 0
    LadderFamily("simhash", "fingerprint", "doc_id", "doc_a", "doc_b",
      () => Dedup.dupPlantedDocs(spark, sf), () => Tables.documents(spark, sf).count(),
      Dedup.simhashOn(spark, _),
      root => Dedup.simhashIncremental(spark, sf, artifactDir = root), 10000000L),
    // planted near-identical copies (ids ≥ 10⁶) pair their originals
    LadderFamily("embed-LSH", "signature", "vec_id", "vec_a", "vec_b",
      () => Dedup.plantedCorpus(spark, sf, nPlant = 50), () => Tables.embeddings(spark, sf).count(),
      Dedup.embedLshOn(spark, _, threshold = 0.9),
      root => Dedup.embedLshIncremental(spark, sf, artifactDir = root), 1000000L))

  /** The tick contract both keys share: one row per pair, only pairs
    * touching the delta, and base ∪ tick reproduces the batch run.
    */
  private def assertTickContract(f: LadderFamily): Unit = {
    val r = f.run
    assert(r.rows.length === r.rows.distinct.length, s"${f.name} tick returned duplicate rows")
    assert(r.rows.length === r.tick.size)
    // the tick emits ONLY pairs touching the delta…
    assert(r.tick.nonEmpty)
    assert(r.tick.forall { case (a, b) => a >= r.cut || b >= r.cut })
    assert(r.tick.intersect(r.base).isEmpty)
    // …and together with the base pairs reproduces the batch run
    assert(r.base.union(r.tick) === r.full)
  }

  ladder.foreach { f =>
    test(s"incremental ${f.name} tick plus base pairs equals the batch pair set") {
      assertTickContract(f)
      // planted copies guarantee cross-tick pairs at any SF
      assert(f.run.tick.exists { case (_, b) => b >= f.plantedFrom })
    }

    test(s"${f.name} tick through the materialized ${f.store} store matches the batch pair set") {
      assertTickContract(f)
      // the post-tick row store holds the FULL corpus: delta rows
      // applied, ready to serve the next tick as its base
      assert(f.run.stored === f.run.corpusIds)
    }
  }

  test("connected components survive a chain deeper than the checkpoint interval") {
    import spark.implicits._
    // a 30-node path 0-1-2-…-29: diameter 29, so label 0 needs 29
    // propagation rounds — far past the default checkpointEvery=4, so
    // the loop crosses many lineage cuts; and past maxIter=25, so the
    // loud-failure guard is exercised by the default too
    val chain = (0L until 29L).map(i => (i, i + 1)).toDF("src", "dst")
    val out = operators.Graph.connectedComponents(chain, maxIter = 40)
    val labels = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === 30)
    assert(labels.values.forall(_ === 0L))
    // lineage is genuinely cut: the result's RDD graph bottoms out at a
    // checkpoint, not the 29-round join chain
    assert(out.rdd.toDebugString.contains("LocalCheckpoint"),
      "expected a LocalCheckpointRDD in the lineage")
    // and the non-convergence guard still fires when maxIter is too
    // small for the diameter
    intercept[IllegalStateException] {
      operators.Graph.connectedComponents(chain, maxIter = 10)
    }
  }

  test("stop-shingle DF cap changes the candidate index, not the output") {
    // a tight cap forces real pruning of the inverted index; output
    // must still be identical because every qualifying pair shares at
    // least one sub-cap shingle and the jaccard is verified exactly
    val uncapped = Dedup.ngramJaccard(spark, sf, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val capped = Dedup.ngramJaccard(spark, sf, threshold = 0.5, dfCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(uncapped.nonEmpty)
    assert(capped === uncapped)
  }

  test("hot-bucket guard: cap does not change output on a normal corpus") {
    // the default cap (10000) never binds at test SF, and even a tight
    // cap only drops buckets that are genuinely degenerate — on this
    // corpus no (band, key) bucket exceeds 50, so outputs are identical
    val base = Dedup.simhash(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.simhash(spark, sf, bucketCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base.nonEmpty)
    assert(capped === base)
    // same holds for the minhash band buckets
    val mhBase = Dedup.minhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhCapped = Dedup.minhashLsh(spark, sf, bucketCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mhBase.nonEmpty)
    assert(mhCapped === mhBase)
  }

  test("hot-bucket guard: a planted degenerate bucket is dropped, the rest survives") {
    import spark.implicits._
    // 200 copies of one boilerplate text → one fingerprint → every
    // band bucket holds 200 docs → 4×C(200,2) candidates without the
    // guard; plus one genuine near-dup pair of distinct docs
    val boiler = (0L until 200L).map(i => (i, "all rights reserved template " * 10))
    val pair = Seq(
      (1000L, "a genuinely unique document about spark catalyst optimizers and shuffles"),
      (1001L, "a genuinely unique document about spark catalyst optimizers and shuffle"))
    val docs = (boiler ++ pair).toDF("doc_id", "text")
    val capped = Dedup.simhashOn(spark, docs, maxHamming = 6, bucketCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate clique never reaches the pair join…
    assert(capped.forall { case (a, b) => a >= 1000L && b >= 1000L })
    // …but the real near-dup pair (its buckets hold 2 docs) is intact
    assert(capped === Set((1000L, 1001L)))
  }

  test("simhash near-dup pairs have symmetric, bounded hamming") {
    val rows = Dedup.simhash(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Int]("hamming") <= 6)
    }
  }

  test("embedLsh finds planted near-duplicates without an all-pairs join") {
    import spark.implicits._
    // 200 random vectors + 10 planted near-dup pairs (tiny perturbation)
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = (0 until 200).map(i => (i.toLong, vec()))
    val dups = (0 until 10).map { i =>
      val (_, v) = base(i)
      (1000L + i, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val found = graft.operators.Dedup.embedLshOn(spark, df, threshold = 0.95)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val expected = (0 until 10).map(i => (i.toLong, 1000L + i)).toSet
    val recall = expected.count(found.contains).toDouble / expected.size
    assert(recall >= 0.4, s"recall $recall, found $found") // 4 bands ≈ 0.56 expected
    assert(found.forall { case (a, b) => expected.contains((a, b)) || a < b })
  }

  test("knnBrute returns k ranked neighbors per query, no self-match") {
    val df = Similarity.knnBrute(spark, sf, nQueries = 3, k = 5).cache()
    assert(df.count() === 15)
    assert(df.filter(col("query_id") === col("neighbor_id")).count() === 0)
    val worstFirst = df.filter(col("rn") === 1).agg(min("cos")).head().getDouble(0)
    val bestLast = df.filter(col("rn") === 5).agg(max("cos")).head().getDouble(0)
    assert(worstFirst >= bestLast)
    df.unpersist()
  }

  test("sq8 two-stage knn recalls the exact brute-force top-k") {
    val brute = Similarity.knnBrute(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id", "cos")
    val sq8 = Similarity.knnSq8(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id", "cos")
    val bruteSet = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq8Rows = sq8.collect()
    val recall = sq8Rows.count(r => bruteSet.contains((r.getLong(0), r.getLong(1)))).toDouble / bruteSet.size
    assert(recall >= 0.9, s"sq8 recall $recall")
    // survivors are re-ranked with the SAME exact cosine as brute force
    val cosMismatch = sq8.join(
        brute.withColumnRenamed("cos", "bcos"), Seq("query_id", "neighbor_id"))
      .filter(col("cos") =!= col("bcos")).count()
    assert(cosMismatch === 0)
  }

  test("substring dedup: a shared verbatim passage yields exactly its window count") {
    import spark.implicits._
    // a 10-token verbatim quote embedded in two otherwise-different
    // docs shares exactly 10-8+1 = 3 of the 8-token windows; doc 3
    // shares nothing
    val quote = "the quick brown fox jumps over the lazy sleeping dog"
    val docs = Seq(
      1L -> s"alpha beta gamma delta $quote epsilon zeta eta theta",
      2L -> s"one two three four five six $quote seven eight nine ten",
      3L -> "completely different text with no overlap at all in any window of eight")
      .toDF("doc_id", "text")
    val out = Dedup.substringDedupOf(docs, k = 8, minShared = 2, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((1L, 2L, 3L)))
    // minShared prunes a single-window coincidence
    val one = Dedup.substringDedupOf(docs, k = 10, minShared = 2, dfCap = 100)
    assert(one.count() === 0) // the quote is exactly 10 tokens: 1 shared window < 2
  }

  test("substring dedup dfCap only drops boilerplate-hot windows (capped ≡ uncapped here)") {
    val docs = Tables.documents(spark, sf)
    val capped = Dedup.substringDedupOf(docs, k = 8, minShared = 2, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val uncapped = Dedup.substringDedupOf(docs, k = 8, minShared = 2, dfCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty) // the corpus's exact copies share all their windows
  }

  test("substring inc tick equals the batch pairs restricted to delta-touching docs") {
    val cut = math.floor(Tables.documents(spark, sf).count() * 0.8).toLong
    val batch = Dedup.substringDedupOf(Dedup.dupPlantedDocs(spark, sf),
        k = 8, minShared = 2, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = Dedup.substringDedupIncremental(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc === batch.filter(p => p._1 >= cut || p._2 >= cut))
    assert(inc.nonEmpty) // the planted copies land past the cut by construction
  }

  test("pq two-stage knn recalls the exact brute-force top-k via ADC tables") {
    val brute = Similarity.knnBrute(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id", "cos")
    val pq = Similarity.knnPq(spark, sf, nQueries = 5, k = 10)
      .select("query_id", "neighbor_id", "cos")
    val bruteSet = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqRows = pq.collect()
    val recall = pqRows.count(r => bruteSet.contains((r.getLong(0), r.getLong(1)))).toDouble / bruteSet.size
    assert(recall >= 0.9, s"pq recall $recall")
    // survivors are re-ranked with the SAME exact cosine as brute force
    val cosMismatch = pq.join(
        brute.withColumnRenamed("cos", "bcos"), Seq("query_id", "neighbor_id"))
      .filter(col("cos") =!= col("bcos")).count()
    assert(cosMismatch === 0)
  }

  test("IVF+PQ results live in the brute universe; survivors carry the exact cosine") {
    val brute = Similarity.knnBrute(spark, sf, nQueries = 3, k = 50)
      .select("query_id", "neighbor_id", "cos")
    val ivfpq = Similarity.knnIvfPq(spark, sf, nQueries = 3, k = 5)
      .select("query_id", "neighbor_id", "cos")
    // probe pruning bounds recall like plain IVF — same subset gate
    assert(ivfpq.join(brute.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_anti").count() < 15)
    // survivors that ARE in the brute set carry the identical cosine
    val mismatch = ivfpq.join(
        brute.withColumnRenamed("cos", "bcos"), Seq("query_id", "neighbor_id"))
      .filter(col("cos") =!= col("bcos")).count()
    assert(mismatch === 0)
  }

  test("IVF results are a subset of the brute-force ranking universe") {
    val brute = Similarity.knnBrute(spark, sf, nQueries = 3, k = 50)
      .select("query_id", "neighbor_id")
    val ivf = Similarity.ivfSearch(spark, sf, nQueries = 3, k = 5)
      .select("query_id", "neighbor_id")
    // every IVF hit is a real corpus vector scored the same way
    assert(ivf.join(brute, Seq("query_id", "neighbor_id"), "left_anti").count() < 15)
  }

  test("semantic dedup: keep-lowest-id within cluster, moderate-cos spread survives") {
    import spark.implicits._
    // 3 orthogonal blobs in R^27: blob b points along e_b, member i
    // adds 0.5·e_{3+b*8+i} on its OWN noise dim — so every intra-blob
    // pair has cosine EXACTLY 1/1.25 = 0.8 (< threshold 0.92: genuine
    // same-topic spread that must survive), inter-blob cosine 0.
    val d = 27
    def vec(base: Int, noiseDim: Int, noiseAmp: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        (if (j == base) 1.0 else 0.0) + (if (j == noiseDim) noiseAmp else 0.0))
    val blobs = for (b <- 0 until 3; i <- 0 until 8)
      yield ((b * 8 + i).toLong, vec(b, 3 + b * 8 + i, 0.5))
    // planted EXACT copies of blob 0 (ids +1000: the copy is the
    // higher id, so the keeper rule must drop the copy, never the
    // original), plus one NEAR copy (same noise dim, amp 0.6 →
    // cos ≈ 0.997) of member 8 in blob 1
    val copies = (for (i <- 0 until 8) yield ((1000 + i).toLong, vec(0, 3 + i, 0.5))) :+
      (1100L, vec(1, 3 + 8, 0.6))
    val vecs = (blobs ++ copies).toDF("vec_id", "v")
    val out = Similarity.semanticDedupOn(spark, vecs, threshold = 0.92, nlist0 = 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size === blobs.size + copies.size)
    // every original survives; every planted copy is dropped
    blobs.foreach { case (id, _) => assert(out(id), s"original $id dropped") }
    copies.foreach { case (id, _) => assert(!out(id), s"copy $id kept") }
  }

  test("semantic dedup store rung: seed + tick equal the batch keeper rule under the frozen quantizer") {
    import spark.implicits._
    // the blob fixture again, ids arranged so an id-ordered 24/rest
    // split puts every copy in the DELTA and every original in the
    // seed — the regime where arrival-order == id-order and tick
    // verdicts must EQUAL the batch rule under the seed's centroids
    val d = 27
    def vec(base: Int, noiseDim: Int, noiseAmp: Double): Seq[Double] =
      Seq.tabulate(d)(j =>
        (if (j == base) 1.0 else 0.0) + (if (j == noiseDim) noiseAmp else 0.0))
    val blobs = for (b <- 0 until 3; i <- 0 until 8)
      yield ((b * 8 + i).toLong, vec(b, 3 + b * 8 + i, 0.5))
    val copies = (for (i <- 0 until 8) yield ((1000 + i).toLong, vec(0, 3 + i, 0.5))) :+
      (1100L, vec(1, 3 + 8, 0.6))
    val root = java.nio.file.Files.createTempDirectory("semdedup_store").toString
    val seedVerdicts = Similarity.seedSemanticStore(spark,
      blobs.toDF("vec_id", "v"), root + "/store", root + "/cents",
      threshold = 0.92, nlist = 3)
    val tickVerdicts = Similarity.semanticDedupTick(spark, root + "/store",
      Similarity.loadCentroids(spark, root + "/cents"),
      copies.toDF("vec_id", "v"), threshold = 0.92, nlist = 3, batchId = 0L)
    val got = seedVerdicts.unionByName(tickVerdicts)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    // expected: the BATCH keeper rule over the full corpus assigned
    // under the SAME frozen seed centroids
    val full = (blobs ++ copies).toDF("vec_id", "v")
    val expected = Similarity.semanticVerdicts(
      Similarity.assignClusters(Similarity.withVecNorm(spark, full),
          Similarity.loadCentroids(spark, root + "/cents"))
        .select(col("vec_id"), col("v"), col("norm"), col("cluster")),
      threshold = 0.92)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(got === expected)
    // and the tick found the cross-seed/tick copies
    copies.foreach { case (id, _) =>
      assert(got.exists(t => t._1 == id && !t._3), s"copy $id kept") }
  }

  test("registered dedup_semantic_store matches the batch planted-recall contract") {
    val out = Similarity.semanticDedupStore(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() === n + 50)
    val droppedPlants = out.filter(col("vec_id") >= 1000000L && !col("keep")).count()
    assert(droppedPlants >= 45, s"only $droppedPlants/50 planted copies dropped")
  }

  test("registered dedup_semantic drops the planted jittered copies at >= 0.9 recall") {
    val out = Similarity.semanticDedup(spark, sf)
    val n = Tables.embeddings(spark, sf).count()
    assert(out.count() === n + 50)
    // the 50 planted copies (ids 1000000+i, 1% jitter → cos ≈ 0.9999
    // to their originals) land in the originals' clusters and must be
    // dropped by the keeper rule; kmeans boundary straddles bound the
    // miss rate like the LSH family's recall gates
    val droppedPlants = out.filter(col("vec_id") >= 1000000L && !col("keep")).count()
    assert(droppedPlants >= 45, s"only $droppedPlants/50 planted copies dropped")
  }

  test("scale-derived ANN/semantic knobs pin the measured-curve anchors and clamps") {
    // test-SF shape: small corpora keep the r10 hand-tuned knobs
    assert(Similarity.derivePqNcent(6000) === 32)
    assert(Similarity.derivePqOversample(6000) === 8)
    assert(Similarity.deriveSemanticNlist(550) === 16)
    // scale anchors: the BENCH_scale_docs recovery-curve points —
    // 2M vectors derive ncent 128 (measured recall@10 0.94) and
    // oversample 32 (0.87); 200k vectors derive the nlist 256 the
    // committed semantic scale run used by hand
    assert(Similarity.derivePqNcent(2000000L) === 128)
    assert(Similarity.derivePqOversample(2000000L) === 32)
    assert(Similarity.deriveSemanticNlist(200000L) === 256)
    // clamps: the 8-bit code budget tops ncent at 256; oversample
    // saturates at 32; semantic nlist keeps ~1k vectors/cluster
    assert(Similarity.derivePqNcent(100000000L) === 256)
    assert(Similarity.derivePqOversample(100000000L) === 32)
    assert(Similarity.deriveSemanticNlist(2000000L) === 2048)
    // derivations are monotone non-decreasing in corpus size
    val ns = Seq(1L, 1000L, 100000L, 1000000L, 10000000L, 1000000000L)
    assert(ns.map(Similarity.derivePqNcent) === ns.map(Similarity.derivePqNcent).sorted)
    assert(ns.map(Similarity.deriveSemanticNlist) === ns.map(Similarity.deriveSemanticNlist).sorted)
  }

  test("scale-derived IVF coarse knobs pin anchors, clamps, and the probe fraction") {
    // test-SF shape: every test corpus (≤ 8k vectors) keeps the
    // historical registered default nlist 8 / nprobe 2 — derived-knob
    // entries are byte-identical to the pre-derivation rounds there
    assert(Similarity.deriveIvfNlist(500) === 8)
    assert(Similarity.deriveIvfNlist(2000) === 8)
    assert(Similarity.deriveIvfNprobe(8) === 2)
    // scale anchors: 2M vectors derive 2048 lists (~1k vectors each —
    // the deriveSemanticNlist curve) and nprobe 64, holding the probed
    // corpus fraction at the 1/32 the hand-picked 256/8 scale run
    // measured healthy (recall@10 0.94); per-probe reads stay ~1k rows
    assert(Similarity.deriveIvfNlist(2000000L) === 2048)
    assert(Similarity.deriveIvfNprobe(2048) === 64)
    assert(Similarity.deriveIvfNprobe(256) === 8) // ≡ the hand-picked pair
    // clamps: nlist tops out at 65536 (cluster must fit the packed
    // heap key's 16 bits — the searchIvfStore rank contract), nprobe
    // at 64; floors keep the degenerate-corpus shape sane
    assert(Similarity.deriveIvfNlist(1L) === 8)
    assert(Similarity.deriveIvfNlist(100000000000L) === 65536)
    assert(Similarity.deriveIvfNprobe(65536) === 64)
    assert(Similarity.deriveIvfNprobe(1) === 2)
    // monotone non-decreasing, and the probe fraction nprobe/nlist
    // never grows past 1/4 (the old fixed default's worst case)
    val ns = Seq(1L, 1000L, 100000L, 1000000L, 10000000L, 1000000000L)
    assert(ns.map(Similarity.deriveIvfNlist) === ns.map(Similarity.deriveIvfNlist).sorted)
    ns.foreach { n =>
      val nl = Similarity.deriveIvfNlist(n)
      assert(Similarity.deriveIvfNprobe(nl).toDouble / nl <= 0.25)
    }
  }

  test("coarse-quantizer train sample: bounded cap; gate-identical below it; deterministic hash-order pull above it") {
    import spark.implicits._
    // cap arithmetic: the 100k floor dominates until 64·nlist crosses
    // it (64 points/centroid — above FAISS's 39·k warning floor; the
    // BENCH_scale_docs ivf_train_cap receipt measures recall parity);
    // clamped by nlist's own 65536 ceiling the cap never exceeds
    // ~4.2M rows — artifact-build scale, never corpus-proportional
    assert(Similarity.coarseTrainCap(8) === 100000)
    assert(Similarity.coarseTrainCap(1562) === 100000)
    assert(Similarity.coarseTrainCap(2048) === 131072)
    assert(Similarity.coarseTrainCap(65536) === 4194304)
    val nls = Seq(8, 64, 512, 2048, 16384, 65536)
    assert(nls.map(Similarity.coarseTrainCap) === nls.map(Similarity.coarseTrainCap).sorted)

    // gate-slot arithmetic: round(cap/n · 65536) clamped to [1, 16384]
    // — 16384 IS the historical 25%, so tightening only ever narrows
    assert(Similarity.coarseGateSlots(2000000L, 131072) === 4295L)  // the 2M receipt point
    assert(Similarity.coarseGateSlots(100000000000L, 4194304) === 3L) // 100B rows: ~0.004%
    assert(Similarity.coarseGateSlots(Long.MaxValue / 2, 100000) === 1L) // floor
    assert(Similarity.coarseGateSlots(500000L, 400000) === 16384L)  // 25% ceiling

    // 32-bit fallback arithmetic (r16 ADVICE): below one 16-bit slot
    // of resolution (cap/n < 1/131072) the clamped 16-bit gate's
    // yield was n/65536 — corpus-proportional. The 32-bit gate keeps
    // yield ≈ cap out past any addressable corpus.
    assert(Similarity.coarseGateSlots32(100000000000L, 100000) === 4295L)
    // ^ n=10^11 at the 100k cap floor (explicit nlist0=8, the ADVICE
    //   scenario; 16-bit width rounds to 0 → fallback): yield
    //   ≈ 10^11·4295/2^32 ≈ 99 999 ≈ cap; r16's clamp-to-1 yielded
    //   n/65536 ≈ 1.53M (15×cap) and grew linearly from there
    assert(Similarity.coarseGateSlots32(1000000000000L, 100000) === 429L)
    // ^ 10^12 rows: yield ≈ 99 883 ≈ cap; r16 yielded 15.3M (153×)
    assert(Similarity.coarseGateSlots32(Long.MaxValue / 2, 1) === 1L)   // floor holds
    assert(Similarity.coarseGateSlots32(1L, Int.MaxValue) === (1L << 30)) // ceiling exact via BigInt

    val df = (0L until 1000L).map(i => (i, i * 2)).toDF("vec_id", "payload")
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val gate = (0L until 1000L).filter(id => md5hex(id.toString) < "40").toSet
    // below the cap (every test SF: n/4 ≤ cap): the sample IS the
    // historical md5 gate — registered outputs and the pre-r16
    // centroid artifacts are unchanged
    val below = Similarity.coarseTrainSampleCapped(df, n = 1000L, cap = 300)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(below === gate)
    // above the cap: the TIGHTENED gate — a pure map-side filter whose
    // membership is exactly the 16-bit-prefix rule (cross-checked
    // against JVM MessageDigest, independent of Spark's md5), whose
    // yield lands within the slot granularity of the cap, and which is
    // invariant under the input's partitioning
    val cap = 50
    def pull(d: org.apache.spark.sql.DataFrame): Set[Long] =
      Similarity.coarseTrainSampleCapped(d, n = 1000L, cap = cap)
        .select("vec_id").collect().map(_.getLong(0)).toSet
    val slots = Similarity.coarseGateSlots(1000L, cap)
    val expected = (0L until 1000L)
      .filter(id => md5hex(id.toString).substring(0, 4) < f"$slots%04x").toSet
    val capped = pull(df)
    assert(capped === expected)
    // yield ≈ cap (hash-uniform; wide tolerance — the pin is on the
    // membership RULE above, the size is expectation)
    assert(capped.size > cap / 2 && capped.size < cap * 2, s"yield ${capped.size}")
    assert(capped.subsetOf(gate), "a tightened gate only ever narrows the 25% gate")
    assert(pull(df.repartition(7)) === capped)

    // the 32-bit branch engages exactly when the 16-bit width rounds
    // to zero (n > ~131072·cap; r16 ADVICE — the clamp-to-1 yield was
    // n/65536): the plan's gate is the 8-hex-prefix rule, still ONE
    // map-side filter. Pinned via the analyzed plan's literal — at
    // this width the yield on a 1k-row df is ~0 rows in either
    // branch, so set membership can't distinguish them.
    val n32 = 100000000000L
    val s32 = Similarity.coarseGateSlots32(n32, cap)
    val plan32 = Similarity.coarseTrainSampleCapped(df, n = n32, cap = cap)
      .queryExecution.analyzed.toString
    assert(plan32.contains(f"$s32%08x") && plan32.contains(", 1, 8)"))
    // …and the 16-bit branch owns everything down to exactly one slot
    val plan16 = Similarity.coarseTrainSampleCapped(df, n = 131072L * cap, cap = cap)
      .queryExecution.analyzed.toString
    assert(plan16.contains("0001") && plan16.contains(", 1, 4)"))
  }

  test("native PQ encode/ADC expressions are bit-identical to the HOF formulation") {
    import spark.implicits._
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.GraftShims
    graft.functions.VectorFunctions.register(spark)
    val m = 4; val sub = 4; val ncent = 8; val dim = m * sub
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 256L)
      .map(i => (i, Seq.fill(dim)(rnd.nextGaussian()))).toDF("vec_id", "v")
    // shuffled book order: the native path must sort by (s, cid) itself
    val books: Seq[(Int, Int, Seq[Double])] = rnd.shuffle(
      (for (s <- 0 until m; c <- 0 until ncent)
        yield (s, c, Seq.fill(sub)(rnd.nextGaussian()).toSeq)).toVector)
    // oracle: the pre-r14 interpreted HOF formulation, verbatim
    val oracle = (0 until m).foldLeft(vecs) { (d, s) =>
      val bl = typedLit(books.filter(_._1 == s)
        .map { case (_, i, cv) => (cv, cv.map(x => x * x).sum, i) })
      d.withColumn("sv", expr(s"slice(v, ${s * sub + 1}, $sub)"))
        .withColumn("bk", bl)
        .withColumn(s"c_$s",
          expr("array_min(transform(bk, b -> struct(" +
            "b._2 - 2.0d * graft_dot(sv, b._1) AS dist, b._3 AS code))).code"))
        .drop("bk").drop("sv")
    }.withColumn("ocode", array((0 until m).map(s => col(s"c_$s")): _*))
    val sorted = books.sortBy(b => (b._1, b._2))
    val flat = sorted.flatMap(_._3).toArray
    val c2 = sorted.map(_._3.map(x => x * x).sum).toArray
    val native = GraftShims.column(VectorFunctions.PqEncode(
      GraftShims.expression(col("v")), flat, c2, m, ncent, sub))
    val both = oracle.withColumn("code", native).cache()
    assert(both.filter(!(col("ocode") <=> col("code"))).count() === 0)
    // ADC: same lut, old aggregate-HOF vs native loop — bit-identical sums
    val lut = Seq.fill(m * ncent)(rnd.nextGaussian())
    val withLut = both.withColumn("lut", typedLit(lut))
    val oadc = expr(s"aggregate(sequence(0, ${m - 1}), cast(0.0 as double), " +
      s"(acc, i) -> acc + element_at(lut, i * $ncent + element_at(code, i + 1) + 1))")
    val nadc = GraftShims.column(VectorFunctions.PqAdc(
      GraftShims.expression(col("lut")), GraftShims.expression(col("code")), ncent))
    assert(withLut.filter(!(oadc <=> nadc)).count() === 0)
    both.unpersist()
    // interpreted path (nullSafeEval — streaming eval / codegen fallback)
    // against an independent plain-Scala argmin
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val v = Array.fill(dim)(rnd.nextGaussian())
    val got = VectorFunctions.PqEncode(
        Literal.create(v.toSeq, ArrayType(DoubleType)), flat, c2, m, ncent, sub)
      .eval(null).asInstanceOf[ArrayData].toIntArray()
    val want = (0 until m).map { s =>
      (0 until ncent).minBy { c =>
        val base = (s * ncent + c) * sub
        c2(s * ncent + c) - 2.0 * (0 until sub).map(j => v(s * sub + j) * flat(base + j)).sum
      }
    }
    assert(got.toSeq === want)
    val code = got
    val gotAdc = VectorFunctions.PqAdc(
        Literal.create(lut, ArrayType(DoubleType)),
        Literal.create(code.toSeq, ArrayType(org.apache.spark.sql.types.IntegerType)),
        ncent)
      .eval(null).asInstanceOf[Double]
    assert(gotAdc === (0 until m).map(i => lut(i * ncent + code(i))).sum)
    // graft_vdiv ≡ the transform lambda it replaced (division kept,
    // not multiply-by-reciprocal — bit-identical)
    val vd = vecs.withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .withColumn("a", expr("graft_vdiv(v, norm)"))
      .withColumn("b", expr("transform(v, x -> x / norm)"))
    assert(vd.filter(!(col("a") <=> col("b"))).count() === 0)
  }

  test("derived PQ knobs VALUE gate: 600k corpus derives ncent 64 / oversample 16 off-floor and beats the floor knobs on brute recall@10") {
    // The r16 verdict's #3 (the IvfStoreSpec:493 precedent applied to
    // the PQ pair): the derivation curves are arithmetic-pinned above
    // and receipted at 2M in BENCH_scale_docs, but no SUITE test
    // exercised derived values off the 32/8 clamp floors. 600k
    // vectors derive ncent 64 / oversample 16 — both off-floor — and
    // the gate mirrors the bench's own contract: recall@10 against
    // the in-suite exact brute top-10. (A planted-dup-must-survive
    // gate is WRONG for PQ: inside a dense cluster the ADC fuzz is
    // wider than the gap between cosine 1.0 and the 0.98+ near-tie
    // pool, so the coarse stage keeps 160 near-equivalent candidates
    // and recall is meaningful only as top-k OVERLAP — measured 0/8
    // planted survival at these very knobs while brute recall@10
    // holds. IVF's planted gate survives because its prune is by
    // CLUSTER, not by score fuzz.) The VALUE claim: the derived pair
    // must beat the clamp-floor pair on the same corpus — the silent
    // degradation the derivation exists to prevent.
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val nBase = 600000L; val nQ = 8; val k = 10
    // an unclustered cloud in dim 16: top-10 cosines are GRADED
    // (spread well past the 4-decimal rounding), so the brute truth
    // set is geometry, not a tie-break artifact — mega-cluster
    // corpora concentrate cosines into mass ties at 4 decimals and
    // make top-k overlap unreproducible by ANY quantizer
    def vecExpr(idCol: String) = expr(
      s"transform(sequence(0, 15), d -> " +
        s"(pmod(hash($idCol, d), 10000) / 10000.0D - 0.5D) * 20.0D)")
    val corpus = spark.range(nBase).select(col("id").as("vec_id"))
      .withColumn("v", vecExpr("vec_id"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val n = corpus.count()
    val ncent = Similarity.derivePqNcent(n)
    val os = Similarity.derivePqOversample(n)
    assert(ncent === 64, "600k must derive ncent OFF the 32 floor")
    assert(os === 16, "600k must derive oversample OFF the 8 floor")
    val m = 8 // dim 16 → 2-dim subspaces; the knobs under test are ncent/os
    // exact brute top-10 — the truth set (one 600k × 8 scored pass)
    val q = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val brute = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr("graft_dot(qv, v)") / (col("norm") * col("qnorm")), 4))
      .select(col("query_id"), col("vec_id"), col("cos"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nc: Int, ov: Int): Double = {
      val books = Similarity.trainPqCodebooks(spark, corpus, m, nc)
      val hits = Similarity.knnPqOn(spark, corpus, books, nQ, k, m, nc, ov)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.count(hits.contains).toDouble / brute.size
    }
    val recallDerived = recallAt(ncent, os)
    val recallFloor = recallAt(32, 8)
    // measured at this deterministic corpus: derived 0.975, floor
    // 0.875 — the off-floor knobs recover exactly the recall the 2M
    // bench receipt showed them recovering (0.56 → 0.94 class)
    assert(recallDerived >= 0.95, s"derived-knob recall $recallDerived")
    assert(recallDerived > recallFloor,
      s"derived $recallDerived must beat floor $recallFloor")
    corpus.unpersist()
    ()
  }
}
