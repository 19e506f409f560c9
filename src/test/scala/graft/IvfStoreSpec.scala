package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF index lifecycle (`knn_ivf_store`): quantizer
  * frozen to an artifact, postings bucketed by cluster in a
  * BucketStore, appends as generation-publish ticks, search =
  * probe-pruned bucket reads. Gates:
  *  - search over (seed base + append tick) ≡ search over a ONE-SHOT
  *    index of the full corpus with the same frozen quantizer — the
  *    tick is invisible to results;
  *  - inverted lists (buckets) the tick's vectors don't land in stay
  *    byte-identical — the append is O(touched clusters) in store I/O.
  */
class IvfStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("append tick ≡ one-shot index; untouched inverted lists byte-identical") {
    val root = java.nio.file.Files.createTempDirectory("ivf_store_spec").toString
    val nlist = 8; val nQueries = 10; val k = 10; val nprobe = 2
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val base = c.filter(col("vec_id") % 10 =!= 7).select("vec_id", "v", "norm")
    val delta = c.filter(col("vec_id") % 10 === 7).select("vec_id", "v", "norm")
    val queries = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))

    // incremental: seed base, append the held-out split as one tick
    val incDir = s"$root/inc"
    val cents = Similarity.trainQuantizer(spark, base, s"$root/cents", nlist)
    Similarity.seedIvfStore(spark, base, incDir, cents, nlist)
    val beforeTick = TestFiles.bucketFileHashes(spark, incDir)
    Similarity.ivfAppendTick(spark, incDir, cents, delta, batchId = 0L, nlist = nlist)
    val afterTick = TestFiles.bucketFileHashes(spark, incDir)

    // the centroid artifact round-trips exactly
    assert(Similarity.loadCentroids(spark, s"$root/cents") === cents)

    // untouched inverted lists: clusters none of the delta vectors
    // land in keep their seed files byte-identical
    val deltaClusters = graft.streaming.BucketStore
      .readAll(spark, incDir)
      .join(delta.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("cluster")).distinct().collect().map(_.getInt(0)).toSet
    val untouched = beforeTick.filter { case (path, _) =>
      !deltaClusters.exists(cl => path.contains(s"bucket=$cl/")) }
    assert(untouched.nonEmpty, "spec needs at least one untouched cluster")
    untouched.foreach { case (path, hash) =>
      assert(afterTick.get(path).contains(hash), s"untouched list $path changed") }

    // one-shot: the full corpus seeded at once with the SAME quantizer
    val fullDir = s"$root/full"
    Similarity.seedIvfStore(spark, base.unionByName(delta), fullDir, cents, nlist)

    def results(dir: String): Set[(Long, Long, Double, Int, Int)] =
      Similarity.searchIvfStore(spark, dir, cents, queries, k, nprobe, nlist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3), r.getInt(4))).toSet

    val inc = results(incDir)
    assert(inc === results(fullDir))
    assert(inc.size === nQueries * k) // full top-k per query
    assert(inc.map(_._1) === (0L until nQueries.toLong).toSet)
    c.unpersist()
    ()
  }

  test("IVF maintainer: streamed appends across ticks ≡ one-shot index") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivf_maintain_spec").toString
    val storeDir = s"$root/store"; val centsDir = s"$root/cents"
    val nlist = 8; val nQueries = 10; val k = 10; val nprobe = 2
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val base = c.filter(col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 3)
      .select("vec_id", "v", "norm")
    val cents = Similarity.trainQuantizer(spark, base, centsDir, nlist)
    Similarity.seedIvfStore(spark, base, storeDir, cents, nlist)

    def ingest(m: Int): Seq[VecIngest] = c.filter(col("vec_id") % 10 === m)
      .select(col("vec_id"), col("v"))
      .collect().map(r => VecIngest(r.getLong(0), r.getSeq[Double](1))).toSeq

    val input = MemoryStream[VecIngest]
    // no explicit nlist: the maintainer recovers the bucket contract
    // from the centroid artifact itself (the r15 default — the proven
    // path IS the default path)
    val q = streaming.DocStream.startIvfMaintain(
      input.toDF(), storeDir, centsDir, s"$root/ckpt")
    input.addData(ingest(7): _*); q.processAllAvailable()
    input.addData(ingest(3): _*); q.processAllAvailable()
    q.stop()
    assert(graft.streaming.BucketStore.appliedBatchId(storeDir) === 1L)

    // the maintained index answers exactly like a one-shot index of
    // the full corpus under the same frozen quantizer
    val fullDir = s"$root/full"
    Similarity.seedIvfStore(spark, c.select("vec_id", "v", "norm"), fullDir, cents, nlist)
    val queries = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    def results(dir: String) =
      Similarity.searchIvfStore(spark, dir, cents, queries, k, nprobe, nlist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3), r.getInt(4))).toSet
    assert(results(storeDir) === results(fullDir))
    c.unpersist()
    ()
  }

  test("IVF maintainer tombstones: before-image deletes drop postings; re-embed moves cluster") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivf_tomb_spec").toString
    val storeDir = s"$root/store"; val centsDir = s"$root/cents"
    val nlist = 8
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val base = c.filter(col("vec_id") % 10 =!= 7).select("vec_id", "v", "norm")
    val cents = Similarity.trainQuantizer(spark, base, centsDir, nlist)
    Similarity.seedIvfStore(spark, base, storeDir, cents, nlist)
    // r14: the id-bucketed sidecar mirror (hard-neg mining's row
    // store) rides the same ticks
    graft.operators.Retrieval.seedVecSidecar(spark, base, s"$root/byid")

    val byId = c.select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val input = MemoryStream[VecCdc]
    val q = streaming.DocStream.startIvfMaintain(
      input.toDF(), storeDir, centsDir, s"$root/ckpt", nlist,
      byIdDir = Some(s"$root/byid"))
    // one CDC batch: add the held-out split, delete two indexed
    // vectors (before-image embeddings), re-embed one (delete old
    // image + upsert a shifted vector in the same batch)
    val adds = byId.keys.filter(_ % 10 == 7).toSeq.sorted
      .map(id => VecCdc(id, byId(id), "upsert"))
    val dels = Seq(VecCdc(20L, byId(20L), "delete"), VecCdc(30L, byId(30L), "delete"))
    val reEmbedded = byId(40L).map(_ + 0.5)
    val moves = Seq(VecCdc(40L, byId(40L), "delete"), VecCdc(40L, reEmbedded, "upsert"))
    input.addData(adds ++ dels ++ moves: _*)
    q.processAllAvailable(); q.stop()

    val rows = graft.streaming.BucketStore.readAll(spark, storeDir)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(!rows.contains(20L) && !rows.contains(30L))
    assert(rows(40L) === reEmbedded)        // new image indexed…
    assert(rows.count(_._1 == 40L) === 1)   // …exactly once
    assert(byId.keys.filter(_ % 10 == 7).forall(rows.contains))
    // no duplicate postings anywhere
    val n = graft.streaming.BucketStore.readAll(spark, storeDir).count()
    assert(n === rows.size)
    // the sidecar mirrored every mutation: membership ≡ the IVF store
    val side = graft.streaming.BucketStore.readAll(spark, s"$root/byid")
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(side.keySet === rows.keySet)
    assert(side(40L) === reEmbedded)
    c.unpersist()
    ()
  }

  test("recall-drift probe: planted drift trips the maintainer's probe; rebuild restores recall") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivf_drift_spec").toString
    val storeDir = s"$root/store"; val centsDir = s"$root/cents"
    val dim = 8; val perBlob = 60; val k = 5; val nprobe = 1
    graft.functions.VectorFunctions.register(spark)

    // Synthetic corpus with a KNOWN cluster structure: four tight
    // blobs along orthogonal axes — the frozen quantizer (nlist=4)
    // learns exactly these.
    def noise(j: Int, d: Int): Double = (((j * 31 + d * 7) % 11) - 5) * 0.004
    def blobVec(axis: Int, j: Int): Seq[Double] =
      (0 until dim).map(d => (if (d == axis) 1.0 else 0.0) + noise(j, d))
    val base = (for (b <- 0 until 4; j <- 0 until perBlob)
      yield (b * 1000L + j, blobVec(b, j))).toDF("vec_id", "v")
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val cents = Similarity.trainQuantizer(spark, base, centsDir, nlist = 4)
    Similarity.seedIvfStore(spark, base, storeDir, cents, nlist = 4)

    // in-distribution queries: probe reads healthy (no trip)
    val inQ = base.filter(col("vec_id") % 1000 < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val healthy = Similarity.ivfRecallProbe(spark, storeDir, cents, inQ,
      k, nprobe, nlist = 4, threshold = 0.9)
    assert(!healthy.tripped && healthy.sampledRecall >= 0.9, s"baseline $healthy")

    // planted drift: a NEW blob at 45° between axis 0 and axis 1 —
    // dead on the frozen quantizer's c0/c1 decision boundary, so the
    // per-vector noise's (d0-d1) component assigns members to the two
    // old clusters pseudo-randomly. True cosine neighborhoods follow
    // a DIFFERENT structure (sub-groups spread along axis 2), so every
    // member's nearest neighbors straddle both inverted lists and
    // nprobe=1 must miss roughly half of them. This is exactly the
    // failure mode frozen quantizers develop in production: new mass
    // between old centroids, split by a boundary the quantizer drew
    // for data that no longer looks like this.
    val planted = (0 until 40).map { j =>
      val v = (0 until dim).map { d =>
        val on = if (d <= 1) 1.0 / math.sqrt(2) else 0.0
        on + noise(j, d) + (if (d == 2) (j % 5) * 0.05 else 0.0)
      }
      VecIngest(9000L + j, v)
    }
    val trips = scala.collection.mutable.ListBuffer.empty[(Long, Similarity.IvfProbeResult)]
    val input = MemoryStream[VecIngest]
    val q = streaming.DocStream.startIvfMaintain(
      input.toDF(), storeDir, centsDir, s"$root/ckpt", nlist = 4,
      probe = Some(Similarity.IvfProbeConfig(sample = 8, k = k, nprobe = nprobe,
        threshold = 0.9, onDrift = (b, r) => trips += ((b, r)))))
    input.addData(planted: _*)
    q.processAllAvailable(); q.stop()
    assert(trips.nonEmpty, "planted drift did not trip the probe")
    assert(trips.head._2.sampledRecall < 0.9)

    // the data-driven response: rebuild from the maintained store's
    // own contents with capacity for the new structure — recall over
    // the SAME drifted queries is restored
    val corpus = graft.streaming.BucketStore.readAll(spark, storeDir)
      .select("vec_id", "v", "norm")
    Similarity.rebuildIvfIndex(spark, corpus, s"$root/idx", nlist = 5)
    val (newStore, newCents) = Similarity.resolveIvfIndex(spark, s"$root/idx")
    val driftQ = planted.take(8).map(p => (p.vec_id, p.embedding)).toDF("query_id", "qv")
      .withColumn("qnorm", sqrt(expr("graft_dot(qv, qv)")))
    val after = Similarity.ivfRecallProbe(spark, newStore,
      Similarity.loadCentroids(spark, newCents), driftQ,
      k, nprobe, nlist = 5, threshold = 0.9)
    assert(!after.tripped && after.sampledRecall >= 0.9, s"post-rebuild $after")
    ()
  }

  test("corpus-sample probe catches old-region drift the tick-only probe misses") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivf_corpus_probe_spec").toString
    val storeDir = s"$root/store"; val centsDir = s"$root/cents"
    val dim = 8; val perBlob = 60; val k = 5; val nprobe = 1
    graft.functions.VectorFunctions.register(spark)

    // same known-structure corpus as the drift test: four tight blobs
    // on orthogonal axes, quantizer (nlist=4) frozen on them
    def noise(j: Int, d: Int): Double = (((j * 31 + d * 7) % 11) - 5) * 0.004
    def blobVec(axis: Int, j: Int): Seq[Double] =
      (0 until dim).map(d => (if (d == axis) 1.0 else 0.0) + noise(j, d))
    val base = (for (b <- 0 until 4; j <- 0 until perBlob)
      yield (b * 1000L + j, blobVec(b, j))).toDF("vec_id", "v")
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val cents = Similarity.trainQuantizer(spark, base, centsDir, nlist = 4)
    Similarity.seedIvfStore(spark, base, storeDir, cents, nlist = 4)

    // tick 0: benign (tight, in-distribution on axis 3); tick 1:
    // DAMAGE — a blob dead on the frozen c0/c1 boundary, built as
    // TWIN PAIRS: 2m and 2m+1 are near-identical (shared d2 group,
    // adjacent d3) but carry a tiny opposite d0/d1 tilt, so the
    // quantizer assigns each twin to a DIFFERENT old cluster while
    // cosine ranks the twin as its sibling's nearest neighbor —
    // every damaged query's top-k straddles both inverted lists by
    // construction (recall ≈ ½ at nprobe=1, not noise-dependent);
    // tick 2: benign again. Tick probes run at batch 0 and 2 only
    // (everyNTicks=2) and both sample BENIGN vectors → green; the
    // corpus probe (corpusEveryNTicks=2) at batch 2 hash-samples the
    // WHOLE store — including tick 1's damaged neighborhoods — and
    // must trip. trips must therefore be exactly [batch 2].
    val benign0 = (0 until 20).map(j => VecIngest(7000L + j, blobVec(3, j + 7)))
    val damage = (0 until 240).map { j =>
      val m = j / 2
      val tilt = if (j % 2 == 0) 0.002 else -0.002
      val v = (0 until dim).map { d =>
        if (d == 0) 1.0 / math.sqrt(2) + tilt
        else if (d == 1) 1.0 / math.sqrt(2) - tilt
        else if (d == 2) (m % 7) * 0.06 // neighborhood groups
        else if (d == 3) j * 0.001     // per-vector uniqueness
        else 0.0
      }
      VecIngest(9000L + j, v)
    }
    val benign2 = (0 until 20).map(j => VecIngest(8000L + j, blobVec(2, j + 13)))

    val trips = scala.collection.mutable.ListBuffer.empty[(Long, Similarity.IvfProbeResult)]
    val input = MemoryStream[VecIngest]
    val q = streaming.DocStream.startIvfMaintain(
      input.toDF(), storeDir, centsDir, s"$root/ckpt", nlist = 4,
      probe = Some(Similarity.IvfProbeConfig(sample = 8, k = k, nprobe = nprobe,
        threshold = 0.9, everyNTicks = 2,
        corpusSample = 128, corpusEveryNTicks = 2,
        onDrift = (b, r) => trips += ((b, r)))))
    input.addData(benign0: _*); q.processAllAvailable()
    input.addData(damage: _*); q.processAllAvailable()
    input.addData(benign2: _*); q.processAllAvailable()
    q.stop()

    assert(trips.map(_._1) === Seq(2L),
      s"expected exactly the batch-2 corpus probe to trip, got $trips")
    assert(trips.head._2.sampledRecall < 0.9)
    ()
  }

  test("IVF+PQ store: tick ≡ one-shot postings; full-probe search ≡ flat PQ; coarse scan never reads vectors") {
    val root = java.nio.file.Files.createTempDirectory("ivfpq_store_spec").toString
    val nlist = 8; val nQueries = 10; val k = 10; val m = 16; val ncent = 32
    val oversample = 8
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val base = c.filter(col("vec_id") % 10 =!= 7).select("vec_id", "v", "norm")
    val delta = c.filter(col("vec_id") % 10 === 7).select("vec_id", "v", "norm")
    val queries = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val cents = Similarity.trainQuantizer(spark, base, s"$root/cents", nlist)
    val books = Similarity.trainPqCodebooks(spark, base, m, ncent)
    Similarity.saveCodebooks(spark, books, s"$root/books")
    // the codebook artifact round-trips exactly
    assert(Similarity.loadCodebooks(spark, s"$root/books") === books)

    // incremental: seed base, tick the held-out split ENCODED at rest
    val incDir = s"$root/inc"
    Similarity.seedIvfPqStore(spark, base, incDir, cents, books, nlist)
    Similarity.ivfPqAppendTick(spark, incDir, cents, books, delta,
      batchId = 0L, nlist = nlist)
    // one-shot: the full corpus seeded at once under the SAME quantizers
    val fullDir = s"$root/full"
    Similarity.seedIvfPqStore(spark, base.unionByName(delta), fullDir, cents, books, nlist)
    def postings(dir: String) = graft.streaming.BucketStore.readAll(spark, dir)
      .select(col("vec_id"), col("cluster"), col("code")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(postings(incDir) === postings(fullDir))

    // search with nprobe = nlist (probe everything) over the stored
    // codes ≡ the flat-PQ ADC result at equal codebooks/knobs — the
    // recall contract: persisting the encode changes WHERE codes live,
    // never what they score
    val storeHits = Similarity.searchIvfPqStore(spark, incDir, cents, books,
      queries, k, nprobe = nlist, nlist = nlist, oversample = oversample)
    val flatHits = Similarity.knnPqOn(spark, c, books, nQueries, k, m, ncent, oversample)
    def hitSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(hitSet(storeHits) === hitSet(flatHits))

    // the coarse scan's parquet projection: codes, never the vectors —
    // the reason the index reads ~10 bytes/posting while raw vectors
    // stay on disk for the survivors-only re-rank
    val p = Similarity.searchIvfPqStore(spark, incDir, cents, books,
      queries, k, nprobe = 2, nlist = nlist, oversample = oversample)
      .queryExecution.executedPlan.toString
    val codeScans = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("code:array")).toSeq
    assert(codeScans.nonEmpty, p.take(4000))
    codeScans.foreach(l => assert(!l.contains("v:array"), l))
    c.unpersist()
    ()
  }

  test("IVF+PQ maintainer + rebuild: streamed encode-at-rest ticks ≡ one-shot; rebuild re-encodes under new codebooks") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ivfpq_maintain_spec").toString
    val storeDir = s"$root/store"; val centsDir = s"$root/cents"
    val booksDir = s"$root/books"
    val nlist = 8; val m = 16; val ncent = 32
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val base = c.filter(col("vec_id") % 10 =!= 7).select("vec_id", "v", "norm")
    val cents = Similarity.trainQuantizer(spark, base, centsDir, nlist)
    val books = Similarity.trainPqCodebooks(spark, base, m, ncent)
    Similarity.saveCodebooks(spark, books, booksDir)
    Similarity.seedIvfPqStore(spark, base, storeDir, cents, books, nlist)

    val input = MemoryStream[VecIngest]
    val q = streaming.DocStream.startIvfMaintain(
      input.toDF(), storeDir, centsDir, s"$root/ckpt", nlist,
      codebooksDir = Some(booksDir))
    val ingest = c.filter(col("vec_id") % 10 === 7)
      .select(col("vec_id"), col("v"))
      .collect().map(r => VecIngest(r.getLong(0), r.getSeq[Double](1))).toSeq
    input.addData(ingest: _*); q.processAllAvailable(); q.stop()

    val fullDir = s"$root/full"
    Similarity.seedIvfPqStore(spark, c.select("vec_id", "v", "norm"),
      fullDir, cents, books, nlist)
    def postings(dir: String) = graft.streaming.BucketStore.readAll(spark, dir)
      .select(col("vec_id"), col("cluster"), col("code")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(postings(storeDir) === postings(fullDir))

    // versioned rebuild: BOTH quantizers retrained on the full corpus,
    // every posting re-encoded — stored codes must equal a fresh seed
    // under the new version's own loaded artifacts
    Similarity.rebuildIvfPqIndex(spark, c.select("vec_id", "v", "norm"),
      s"$root/idx", nlist, m, ncent)
    val (vStore, vCents, vBooks) = Similarity.resolveIvfPqIndex(spark, s"$root/idx")
    val newBooks = Similarity.loadCodebooks(spark, vBooks)
    val refDir = s"$root/ref"
    Similarity.seedIvfPqStore(spark, c.select("vec_id", "v", "norm"), refDir,
      Similarity.loadCentroids(spark, vCents), newBooks, nlist)
    assert(postings(vStore) === postings(refDir))
    c.unpersist()
    ()
  }

  test("index rebuild publishes by pointer cutover; reader snapshot survives; retention reclaims") {
    val root = java.nio.file.Files.createTempDirectory("ivf_rebuild_spec").toString + "/idx"
    val nlist = 8; val nQueries = 5; val k = 5; val nprobe = 2
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val base = c.filter(col("vec_id") % 2 === 0).select("vec_id", "v", "norm")
    val full = c.select("vec_id", "v", "norm")
    val queries = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    def search(storeDir: String, centsDir: String) =
      Similarity.searchIvfStore(spark, storeDir,
        Similarity.loadCentroids(spark, centsDir), queries, k, nprobe, nlist)

    // no published version yet → loud failure, not an empty answer
    val e = intercept[IllegalArgumentException] { Similarity.resolveIvfIndex(spark, root) }
    assert(e.getMessage.contains("no published IVF index"))

    // v0: built from the base corpus, published, searchable
    assert(Similarity.rebuildIvfIndex(spark, base, root, nlist) === 0L)
    val (store0, cents0) = Similarity.resolveIvfIndex(spark, root)
    assert(store0.contains("idx-0"))
    val v0Results = search(store0, cents0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v0Results.nonEmpty)

    // v1: rebuilt from the FULL corpus (new quantizer, full re-assign)
    // under the old version; cutover is the pointer overwrite
    assert(Similarity.rebuildIvfIndex(spark, full, root, nlist) === 1L)
    val (store1, cents1) = Similarity.resolveIvfIndex(spark, root)
    assert(store1.contains("idx-1"))
    // previous version retained one rebuild back: the v0 reader's
    // dirs still resolve and answer identically
    assert(search(store0, cents0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === v0Results)
    // the new version sees the held-out vectors v0 never indexed
    val v1Neighbors = search(store1, cents1).collect().map(_.getLong(1)).toSet
    assert(v1Neighbors.exists(_ % 2 === 1))

    // v2: one more rebuild reclaims v0, retains v1
    assert(Similarity.rebuildIvfIndex(spark, full, root, nlist) === 2L)
    def versionsOnDisk(): Set[Long] =
      new java.io.File(root).listFiles().toSeq
        .map(_.getName).filter(_.startsWith("idx-"))
        .map(_.stripPrefix("idx-").takeWhile(_ != '-').toLong).toSet
    assert(!versionsOnDisk().contains(0L))
    assert(versionsOnDisk().contains(1L))

    // rebuild fencing: a competing rebuild publishing mid-build makes
    // the slower one fail loudly at cutover; the pointer and search
    // results are the winner's
    val winnerV = new java.util.concurrent.atomic.AtomicLong(-1L)
    val e2 = intercept[graft.streaming.BucketStore.ConcurrentWriterException] {
      Similarity.rebuildIvfIndex(spark, base, root, nlist,
        beforePublish = () =>
          winnerV.set(Similarity.rebuildIvfIndex(spark, full, root, nlist)))
    }
    assert(e2.getMessage.contains("another rebuild"))
    assert(winnerV.get() === 3L)
    val (storeW, centsW) = Similarity.resolveIvfIndex(spark, root)
    assert(storeW.contains("idx-3")) // the winner's version is live…
    // …with the winner's CONTENT: the loser indexed only even ids, the
    // winner the full corpus — odd neighbors prove whose index serves
    assert(search(storeW, centsW).collect().map(_.getLong(1)).exists(_ % 2 === 1))
    c.unpersist()
    ()
  }

  test("derived knobs VALUE gate: 64k planted corpus derives nlist 64 / nprobe 2 and holds planted-neighbor recall") {
    // The derivation curve is arithmetic-pinned (DedupSimilaritySpec)
    // and receipted at 2M in BENCH_scale_docs, but until r16 no SUITE
    // test exercised a derived value other than the historical 8/2.
    // This plants a mid-size clustered corpus whose derived knobs are
    // 64/2 and gates RECALL at those knobs: each query's planted
    // near-dup (cos ≈ 1, same coarse cluster by construction) must
    // surface in its top-k through the probe-pruned store search.
    val root = java.nio.file.Files.createTempDirectory("ivf_derived_gate").toString
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val nBase = 60000L; val nQ = 16; val k = 10
    // 64 well-separated synthetic centers on an 8-dim cosine curve,
    // tight per-vector noise — engine-independent, no driver RNG
    def vecExpr(idCol: String) = expr(
      s"transform(sequence(0, 7), d -> cos(($idCol % 64) * 2.39996 + d) * 10.0 + " +
        s"(pmod(hash($idCol, d), 1000) / 1000.0 - 0.5) * 4.0)")
    val base = spark.range(nBase).select(col("id").as("vec_id"))
      .withColumn("v", vecExpr("vec_id"))
    // planted near-dups: one per query id, new ids above the corpus,
    // the query's EXACT vector scaled by 1.0001 — cosine exactly 1,
    // same nearest centroid by construction, while the ±2.0 member
    // noise keeps every OTHER in-cluster cosine well below it
    val qIds = (0 until nQ).map(i => i * 3750L)
    val planted = qIds.toDF("src_id")
      .join(base.select(col("vec_id").as("src_id"), col("v")), Seq("src_id"))
      .select((col("src_id") + nBase).as("vec_id"),
        expr("transform(v, x -> x * 1.0001d)").as("v"))
    val corpus = base.unionByName(planted)
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      .cache()
    val n = corpus.count()
    assert(n === nBase + nQ)
    val nlist = Similarity.deriveIvfNlist(n)
    val nprobe = Similarity.deriveIvfNprobe(nlist)
    assert(nlist === 64)  // a DERIVED value off the 8/2 test-SF rail
    assert(nprobe === 2)
    val cents = Similarity.trainQuantizer(spark, corpus, s"$root/cents", nlist, n)
    assert(cents.size === nlist)
    Similarity.seedIvfStore(spark, corpus, s"$root/store", cents, nlist)
    val queries = corpus.filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val res = Similarity.searchIvfStore(spark, s"$root/store", cents,
      queries, k, nprobe, nlist)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rows) => q -> rows.map(_._2).toSet }
    assert(res.keySet === qIds.toSet)
    val recall = qIds.count(q => res(q).contains(q + nBase)).toDouble / nQ
    assert(recall >= 0.9,
      s"planted-neighbor recall $recall under derived knobs $nlist/$nprobe")
    corpus.unpersist()
    ()
  }

  test("end-to-end: store whose quantizer trains on the scalable Lloyd's rail surfaces planted near-dups") {
    import spark.implicits._
    val dim = 6
    val nc = 300
    // nc well-separated centroids: seeded gaussians scaled 50 — at
    // dim ≥ 4 pairwise distances are O(100) against the O(1)
    // intra-cluster spreads planted below, so every planted vector's
    // nearest centroid is unambiguous
    val crnd = new scala.util.Random(3L)
    val cents = (0 until nc).map(i => (i, Seq.fill(dim)(crnd.nextGaussian() * 50.0)))
    val rnd = new scala.util.Random(41)
    // corpus: 20 vectors per cluster with ±5 spread — wide enough
    // that same-cluster cosines round BELOW 1.0000 at the search's 4
    // decimals, so the planted copy (cosine exactly 1) is the unique
    // rank-1, not a vec_id tie-break among rounded ties. Queries are
    // exact copies scaled 1.0001 of the first member of every 30th
    // cluster (same nearest centroid by construction).
    val base = (0L until 6000L).map { i =>
      val c = cents((i % nc).toInt)._2
      (i, c.map(_ + rnd.nextDouble() * 10.0 - 5.0))
    }
    val corpus = Similarity.withVecNorm(spark, base.toDF("vec_id", "v"))
    val dir = java.nio.file.Files.createTempDirectory("lloyd_ivf").toString
    Similarity.trainQuantizer(spark, corpus, s"$dir/cents", nlist = nc, n = 6000L)
    val loaded = Similarity.loadCentroids(spark, s"$dir/cents")
    assert(loaded.size === nc)
    Similarity.seedIvfStore(spark, corpus, s"$dir/store", loaded, nlist = nc)
    // ids 0..299 are each cluster's first member; take every 30th
    val planted = base.filter { case (id, _) => id < nc && id % 30 == 0 }
    val queries = planted.map { case (id, v) =>
      (id + 1000000L, v.map(_ * 1.0001))
    }.toDF("vec_id", "v")
    val q = Similarity.withVecNorm(spark, queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val hits = Similarity.searchIvfStore(spark, s"$dir/store", loaded, q,
        k = 3, nprobe = 4, nlist = nc)
      .filter(col("rn") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    planted.foreach { case (id, _) =>
      assert(hits.get(id + 1000000L).contains(id),
        s"planted near-dup $id must be the rank-1 hit of its scaled copy")
    }
  }
}

case class VecCdc(vec_id: Long, embedding: Seq[Double], op: String)
