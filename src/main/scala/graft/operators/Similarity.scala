package graft.operators

import graft.Tables
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two paths, per SURVEY §2: brute-force cosine top-k as the exactness
  * baseline (linear scan — only viable because the query set is
  * broadcast-small), and an IVF-style path (coarse k-means centroids,
  * probe the nearest clusters) whose scan cost is corpus_fraction ≈
  * nprobe/nlist — the structure that survives 100 TB.
  */
object Similarity {

  private def corpus(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
  }

  private val dot = "graft_dot(qv, v)"

  /** Exact top-k cosine neighbors for each query vector (queries =
    * vec_id < nQueries, self-matches excluded). The corpus side stays
    * partition-local: broadcast queries × corpus scan, per-query top-k
    * via window rank. Ranking uses the 4-decimal-rounded cosine (ties
    * broken by neighbor id) so the result is engine-deterministic.
    */
  def knnBrute(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val c = corpus(spark, sfDir)
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val scored = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
      // slim BEFORE the rank shuffle: the window only needs the score
      // triple, and carrying the embedding arrays through it would
      // multiply the one shuffle here ~30× (measured shape at 2M
      // vectors in BENCH_scale_docs)
      .select(col("query_id"), col("vec_id"), col("cos"))
    // r14: top-k via the heap aggregate, not a window — the scored set
    // is queries × corpus, and the window fully sorted it per query;
    // graft_topk's partial aggregation ships ≤ k rows per query per
    // map partition. Same (cos desc, vec_id asc) total order incl.
    // tie-breaks, rn reconstructed from the heap's sorted position —
    // hash-identical output (the ItemCF precedent; same SQL oracle).
    graft.functions.TopKAgg.register(spark)
    scored.groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cos, vec_id, $k)").as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cos"), (col("pos") + 1).as("rn"))
  }

  /** Per-label mean embedding (centroids) via positional explode —
    * the embedding-aggregation primitive behind IVF training, label
    * prototypes, and class-balanced sampling. Sums of float-precision
    * values in double arithmetic are exact up to 2^29 rows, so the
    * centroids are engine-deterministic and SQL-oracle-checkable.
    */
  def labelCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding").cast("array<double>")))
      .groupBy(col("label"), col("pos").as("dim"))
      .agg(round(avg(col("col")), 6).as("centroid"), count(lit(1)).as("n_vectors"))
      .select(col("label"), col("dim"), col("centroid"), col("n_vectors"))

  /** Two-stage ANN over an 8-bit scalar-quantized sketch: stage 1
    * scores every (query, corpus) pair on the 64-BYTE sq8 codes
    * (integer MAC loop, 8× less scan bandwidth than the doubles) and
    * keeps `oversample`·k candidates per query; stage 2 re-ranks only
    * those with the exact double-precision cosine. At 100 TB the
    * sketch column is what fits in memory/page cache while the full
    * vectors stay on disk for the (tiny) re-rank set. Output schema
    * matches [[knnBrute]] so recall is a direct join (spec-gated).
    */
  def knnSq8(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 10,
             oversample: Int = 4): DataFrame = {
    val c = corpus(spark, sfDir)
      .withColumn("code", expr("graft_sq8(v)"))
      .cache()
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"), col("code").as("qcode"))
    // stage 1: coarse scores on the byte codes only
    val coarse = c.select(col("vec_id"), col("code"))
      .join(broadcast(q.select(col("query_id"), col("qcode"))),
        col("vec_id") =!= col("query_id"))
      .withColumn("approx", expr("graft_sq8_dot(code, qcode)"))
    // r14: per-query coarse top-(k·oversample) via the heap aggregate,
    // not a window — the scored candidate set is queries × corpus (or
    // × probed lists); a window re-shuffles and fully sorts it on
    // query_id, where graft_topk's partial aggregation ships ≤
    // k·oversample rows per query per map partition. Same
    // (approx desc, vec_id asc) total order incl. tie-breaks (the
    // ItemCF precedent) — candidate set identical.
    graft.functions.TopKAgg.register(spark)
    val cands = coarse.groupBy(col("query_id"))
      .agg(expr(s"graft_topk(approx, vec_id, ${k * oversample})").as("topk"))
      .select(col("query_id"), explode(expr("topk.id")).as("vec_id"))
    // stage 2: exact re-rank of the survivors only
    val exact = cands
      .join(c.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qnorm"))), Seq("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rn"))
  }

  /** Product-quantization ANN (Jégou, Douze, Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search" — the Faiss `PQ` /
    * ADC path): the vector is split into `m` subspaces, each encoded
    * as its nearest sub-codebook centroid id, so a d-float vector
    * becomes m small ints — at m=16 over 64 float dims, 16 packed
    * 5-bit codes (10 bytes) against the raw corpus's 256 bytes.
    * Both sides are UNIT-NORMALIZED before training/encoding so ADC
    * approximates the cosine itself — the coarse ranking agrees with
    * the exact re-rank metric. Scoring is ASYMMETRIC (the published
    * ADC): the query is never quantized; each query precomputes a
    * lookup table of sub-dot-products against every sub-centroid
    * (m·ncent floats, built IN Spark and broadcast with the query —
    * no driver-side math), and a candidate's approximate dot is m
    * table lookups over its code — a codegen'd `aggregate` over
    * builtin functions, no UDF. Coarse top k·oversample by ADC
    * score, exact re-rank of survivors only (the [[knnSq8]]
    * two-stage contract: survivors carry the SAME 4-decimal cosine
    * as [[knnBrute]]).
    *
    * 100 TB: codebooks are m·ncent·(d/m) doubles — driver/literal
    * scale, trained on the content-hash sample like every quantizer
    * here; encoding is map-side; the corpus-side scan carries only
    * (vec_id, code); the rank shuffle carries (query_id, vec_id,
    * approx) — the r9 narrow-projection rule.
    *
    * Recall is a function of the knobs AND the corpus size: at the
    * old fixed m=16/ncent=32/8× knobs the small label-clustered test
    * corpus measures 0.98 recall@10, but 2M vectors measure 0.56
    * (BENCH_scale_docs `pq_recall_at10` — the quantization cells get
    * denser as the corpus grows while the codebook stays fixed, so
    * ADC rank errors inside a cell explode). The measured recovery
    * curve at 2M: oversample 32 → 0.87 at equal wall, ncent 128 →
    * 0.94. So `ncent`/`oversample` DEFAULT TO SCALE-DERIVED values
    * ([[derivePqNcent]]/[[derivePqOversample]] — one cheap corpus
    * count, the derivedHotCut precedent): small corpora keep 32/8,
    * 2M derives 128/32, and the default-knob caller gets ≥0.9 recall
    * at every measured shape instead of silently degraded answers.
    * Pass explicit knobs to pin the distortion-vs-memory trade.
    */
  def knnPq(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 10,
            m: Int = 16, ncent: Int = -1, oversample: Int = -1): DataFrame = {
    val c = corpus(spark, sfDir).cache()
    val n = c.count() // materializes the cache; the knob-derivation input
    val nc = if (ncent > 0) ncent else derivePqNcent(n)
    val os = if (oversample > 0) oversample else derivePqOversample(n)
    val out = knnPqOn(spark, c, trainPqCodebooks(spark, c, m, nc),
      nQueries, k, m, nc, os).cache()
    // eager-materialize the (nQueries·k)-row result, then release the
    // GB-scale corpus cache — the flagContaminatedFuzzyOf convention;
    // without it every long-lived bench/gate session pins the corpus
    // in executor storage for the query's lifetime
    out.count()
    c.unpersist()
    out
  }

  /** Scale-derived PQ codebook size: ncent grows with the corpus so
    * per-cell population (and with it ADC's within-cell rank error)
    * stays roughly flat — n/16384 rounded up to a power of two,
    * clamped to [32, 256]. Anchored to the measured 2M-vector curve
    * (BENCH_scale_docs): 32 → recall@10 0.56, 128 → 0.94; 2M derives
    * 128. 256 tops out the 8-bit code budget and still trains ~100
    * points/centroid under the 25k sample cap.
    */
  private[graft] def derivePqNcent(n: Long): Int =
    math.min(256, math.max(32, nextPow2(ceilDiv(n, 16384L))))

  /** Scale-derived coarse-stage oversampling: k·oversample ADC
    * survivors feed the exact re-rank, and the number of true
    * neighbors displaced below rank k·oversample by ADC noise grows
    * with corpus density — n/65536 rounded up to a power of two,
    * clamped to [8, 32] (measured at 2M: 8 → 0.56, 32 → 0.87 at
    * equal wall; re-rank cost stays ∝ k·oversample, corpus-free).
    */
  private[graft] def derivePqOversample(n: Long): Int =
    math.min(32, math.max(8, nextPow2(ceilDiv(n, 65536L))))

  /** Scale-derived SemDeDup cluster count: ~1k vectors per cluster
    * (SURVEY's Σ n_c² contract — per-cluster pair work stays flat as
    * the corpus grows), next power of two, clamped to [16, 65536].
    * 200k vectors derive 256 — exactly the knob the committed scale
    * run used by hand.
    */
  private[graft] def deriveSemanticNlist(n: Long): Int =
    math.min(65536, math.max(16, nextPow2(ceilDiv(n, 1000L))))

  /** Scale-derived IVF coarse-quantizer size: ~1k vectors per inverted
    * list (the [[deriveSemanticNlist]] curve), next power of two,
    * clamped to [8, 65536] — the same silent-degradation class the r11
    * sweep closed for PQ knobs, closed for the coarse stage. A FIXED
    * nlist makes every inverted list corpus/nlist-sized: at the old
    * default 8, a 2M-vector corpus probes 250k-row lists (the probed
    * fraction is a constant nprobe/nlist of the corpus no matter how
    * big the corpus gets), and a 100 TB corpus would make each list a
    * shard-sized scan. Deriving holds per-list size ≈ 1k rows flat, so
    * probe cost is ∝ nprobe·1k regardless of corpus scale. The min
    * clamp 8 keeps the registered entries' historical shape at test SF
    * (≤ 8k vectors derive 8); 2M derives 2048. The derivation is
    * frozen into the centroid artifact at seed time — ticks and
    * maintainers recover it as `loadCentroids(..).size`
    * ([[graft.streaming.DocStream.startIvfMaintain]]'s nlist ≤ 0
    * path) — and re-derived from the GROWN corpus at
    * [[rebuildIvfIndex]]/[[rebuildIvfPqIndex]], the semantic-family
    * precedent.
    */
  private[graft] def deriveIvfNlist(n: Long): Int =
    math.min(65536, math.max(8, nextPow2(ceilDiv(n, 1000L))))

  /** Scale-derived probe width for a derived nlist: nlist/32, clamped
    * to [2, 64] — holds the probed corpus fraction at the 1/32 the
    * committed 2M scale run measured healthy by hand (nlist 256,
    * nprobe 8 → recall@10 0.94 on the clustered scale corpus), while
    * the derived-finer lists keep per-probe reads ~1k rows. Small
    * corpora (nlist 8) keep the historical nprobe 2; 2M (nlist 2048)
    * derives 64. Recall at a fixed scan fraction is corpus-geometry-
    * dependent — the BENCH_scale_docs `ivf_nprobe_curve` receipt
    * measures recall@10 at nprobe ∈ {4, 8, 16, derived} under derived
    * nlist so the knob a 100 TB operator actually turns has a
    * published curve.
    */
  private[graft] def deriveIvfNprobe(nlist: Int): Int =
    math.min(64, math.max(2, nlist / 32))

  /** Row bound for a coarse-quantizer training sample: max(100k,
    * 64·nlist). k-means centroid quality saturates at ~O(100)
    * points per centroid (FAISS trains on ≤ 256·k and only WARNS
    * below 39·k; BENCH_scale_docs' `ivf_recall_at10_derived` /
    * `ivfpq_store_recall_at10_derived` receipts measure recall@10
    * at this bound at 2M vectors against the r15 unbounded-fraction
    * numbers) — so the train pass is O(cap), never
    * corpus-proportional. Bounded at nlist's own 65536 clamp this
    * is ≤ 4.2M rows — artifact-build scale, not data scale.
    */
  private[graft] def coarseTrainCap(nlist: Int): Int =
    math.max(100000, 64 * nlist)

  /** Bounded deterministic training sample for a coarse k-means
    * quantizer over an n-row (vec_id, …) corpus — the
    * [[trainPqCodebooks]] `trainCap` discipline applied to the
    * coarse stage (the r15 verdict's #1: a fixed 25% md5-gate
    * FRACTION is corpus-proportional — at 100 TB the quantizer fit
    * would scan 25 TB × 10 iterations; measured onset at only 2M
    * vectors: 101 s vs 22.6 s derived-knob build).
    *
    * While the gate's expected yield (n/4) fits the cap (every test
    * SF), the historical `md5(vec_id) prefix < "40"` 25% gate is
    * returned bit-identically — registered outputs and existing
    * centroid artifacts are unchanged. Above it the gate TIGHTENS
    * to the fraction that lands ~cap rows in expectation
    * ([[coarseGateSlots]] of 65536 16-bit prefix slots): still
    * hash-uniform, engine/layout-independent, and deterministic for
    * a given corpus, but a pure MAP-SIDE filter — unlike the PQ
    * path's exact `orderBy(hash).limit(trainCap)` (fine at its 25k
    * rows), an exact top-cap here would funnel up to 4.2M
    * wide-vector rows through per-partition heaps and one merge
    * task. The yield is cap ± the slot granularity (≤ 1/slots
    * relative — immaterial to a k-means fit).
    */
  private[graft] def coarseTrainSample(df: DataFrame, nlist: Int, n: Long): DataFrame =
    coarseTrainSampleCapped(df, n, coarseTrainCap(nlist))

  /** Gate width for the tightened sample, in 16-bit md5-prefix slots:
    * round(cap/n · 65536), clamped to [1, 16384] — 16384 IS the
    * historical 25%, so the tightened gate only ever narrows it.
    * Valid only while the unclamped width rounds to ≥ 1 slot
    * (cap/n ≥ 1/131072); past that resolution
    * [[coarseTrainSampleCapped]] switches to the 32-bit gate
    * ([[coarseGateSlots32]]) — r16's clamp-to-1 here silently
    * degraded the bound to n/65536, corpus-proportional again
    * (reachable with an explicit small nlist0 at ≥ 10¹⁰ rows).
    */
  private[graft] def coarseGateSlots(n: Long, cap: Int): Long =
    math.max(1L, math.min(16384L, (cap.toLong * 65536L + n / 2) / n))

  /** The fine-resolution fallback: gate width in 32-bit md5-prefix
    * slots, round(cap/n · 2³²), clamped to [1, 2³⁰]. One slot is
    * n/2³² rows — the bound stays cap ± slot granularity out to
    * n ≈ cap·2³² (≥ 4·10¹⁴ rows even at the 100k cap floor, past
    * any addressable corpus). BigInt keeps cap·2³² exact (an Int
    * cap times 2³² brushes the Long edge).
    */
  private[graft] def coarseGateSlots32(n: Long, cap: Int): Long =
    ((BigInt(cap) * 4294967296L + n / 2) / n).max(1).min(1L << 30).toLong

  /** [[coarseTrainSample]] with the cap explicit — the spec entry
    * (suite corpora never reach the 100k floor).
    */
  private[graft] def coarseTrainSampleCapped(df: DataFrame, n: Long, cap: Int): DataFrame = {
    val hk = md5(col("vec_id").cast("string"))
    if (n / 4 <= cap) df.filter(substring(hk, 1, 2) < lit("40"))
    // below one 16-bit slot of resolution (cap/n < 1/131072) the
    // clamped 16-bit gate would yield n/65536 — take the 32-bit gate
    else if ((cap.toLong * 65536L + n / 2) / n >= 1L)
      df.filter(substring(hk, 1, 4) < lit(f"${coarseGateSlots(n, cap)}%04x"))
    else df.filter(substring(hk, 1, 8) < lit(f"${coarseGateSlots32(n, cap)}%08x"))
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  private def nextPow2(x: Long): Int = {
    var p = 1L
    while (p < x) p <<= 1
    math.min(p, Int.MaxValue.toLong).toInt
  }

  /** Per-subspace codebooks on a bounded content-hash sample: m
    * independent Lloyd's fits, each over the s-th d/m-dim slice.
    * Rows: (s, cluster, cv).
    *
    * The sample is COLLECTED (the FAISS practice — PQ codebooks
    * train on an O(10⁴-10⁶) in-memory sample regardless of corpus
    * size; `trainCap` bounds the pull, the same sanctioned-collect
    * contract as the O(nlist) centroid reads) and the m fits run as
    * plain local Lloyd's with deterministic evenly-spaced init —
    * sub-codebooks are k≤256 centroids in d/m≤8 dims, where an
    * MLlib fit is ~100% scheduler overhead (measured 42.7 s for
    * m=16 at 2M vectors vs well under a second of actual math).
    * Codebooks learn the UNIT-normalized corpus: ADC then
    * approximates the cosine itself, so the coarse ranking agrees
    * with the exact re-rank metric instead of the raw dot.
    */
  private[graft] def trainPqCodebooks(spark: SparkSession, c: DataFrame,
      m: Int, ncent: Int, trainCap: Int = 25000): Seq[(Int, Int, Seq[Double])] = {
    val dim = c.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val sample = c
      .withColumn("hk", md5(col("vec_id").cast("string")))
      .orderBy(col("hk")).limit(trainCap)
      .select(expr("graft_vdiv(v, norm)").as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    (0 until m).flatMap { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      localLloyd(pts, ncent).zipWithIndex
        .map { case (cv, i) => (s, i, cv.toSeq) }
    }
  }

  /** Deterministic local Lloyd's: evenly-spaced init over the (hash-
    * ordered) sample, 10 iterations, empty clusters keep their
    * previous centroid. Work is n·k·d per iteration — sub-second at
    * the trainCap bound.
    */
  private def localLloyd(pts: Array[Array[Double]], k: Int,
      iters: Int = 10): Array[Array[Double]] = {
    val n = pts.length
    require(n > 0, "empty PQ training sample")
    val d = pts(0).length
    val kk = math.min(k, n)
    var cents = Array.tabulate(kk)(i => pts((i.toLong * n / kk).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](d))
      val cnts = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val p = pts(i)
        var best = 0; var bestD = Double.MaxValue
        var cI = 0
        while (cI < kk) {
          val cv = cents(cI)
          var dist = 0.0; var j = 0
          while (j < d) { val df = p(j) - cv(j); dist += df * df; j += 1 }
          if (dist < bestD) { bestD = dist; best = cI }
          cI += 1
        }
        val sAcc = sums(best)
        var j = 0
        while (j < d) { sAcc(j) += p(j); j += 1 }
        cnts(best) += 1
        i += 1
      }
      cents = Array.tabulate(kk) { cI =>
        if (cnts(cI) == 0) cents(cI)
        else { val s = sums(cI); Array.tabulate(d)(j => s(j) / cnts(cI)) }
      }
      it += 1
    }
    // pad (degenerate tiny samples) so callers always see k rows
    if (kk < k) cents ++ Array.fill(k - kk)(cents(0).clone()) else cents
  }

  /** Core over an injectable (vec_id, v, norm) corpus + trained
    * codebooks — spec entry.
    */
  /** Map-side PQ encode: per subspace, argmin over the codebook
    * (||v_sub||² is constant within a row's argmin — dropped).
    * Expects a UNIT-normalized `v` column; keeps every other column
    * and adds `code` (m small ints). One codegen'd pass per row
    * ([[graft.functions.VectorFunctions.PqEncode]]) — the prior
    * per-subspace `transform`+`array_min` over a codebook literal ran
    * the whole m·ncent·sub MAC interpreted (HOFs are CodegenFallback)
    * and was the dominant term of every encode-heavy rung.
    */
  private def pqEncode(df: DataFrame, books: Seq[(Int, Int, Seq[Double])],
      m: Int, sub: Int): DataFrame = {
    val sorted = books.sortBy(b => (b._1, b._2))
    // the emitted code id is the SORTED POSITION within the subspace,
    // and pqLuts' lut layout indexes by the same position — equivalent
    // to the books' cid field only while cids are dense 0..ncent-1 per
    // subspace (true for trainPqCodebooks/loadCodebooks output). Make
    // that density assumption explicit: a future sparse codebook would
    // otherwise silently mis-key codes against luts and stored postings.
    sorted.groupBy(_._1).foreach { case (s, bs) =>
      require(bs.map(_._2) == (0 until bs.size),
        s"pqEncode: subspace $s codebook ids not dense 0..${bs.size - 1}: " +
          bs.map(_._2).mkString(","))
    }
    val flat = sorted.flatMap(_._3).toArray
    val c2 = sorted.map(_._3.map(x => x * x).sum).toArray
    val ncent = c2.length / m
    df.withColumn("code", org.apache.spark.sql.GraftShims.column(
      graft.functions.VectorFunctions.PqEncode(
        org.apache.spark.sql.GraftShims.expression(col("v")),
        flat, c2, m, ncent, sub)))
  }

  /** ADC lookup tables, built in Spark: query × broadcast codebook →
    * per-(subspace, centroid) partial dots, packed into one ordered
    * array per query (index = s·ncent + centroid id). Expects
    * (query_id, qv) with qv UNIT-normalized.
    */
  private def pqLuts(spark: SparkSession, q: DataFrame,
      books: Seq[(Int, Int, Seq[Double])], sub: Int): DataFrame = {
    import spark.implicits._
    val booksDf = books.toDF("s", "cid", "cv")
    q.crossJoin(broadcast(booksDf))
      .withColumn("partial", expr(s"graft_dot(slice(qv, s * $sub + 1, $sub), cv)"))
      .groupBy(col("query_id"))
      .agg(expr("transform(array_sort(collect_list(struct(s, cid, partial))), x -> x.partial)")
        .as("lut"))
  }

  /** Approximate dot via m ADC table lookups — one codegen'd loop
    * ([[graft.functions.VectorFunctions.PqAdc]]; the prior
    * `aggregate(sequence(…))` HOF ran interpreted per (query,
    * candidate) pair — the coarse scan's inner loop).
    */
  private def adcExpr(m: Int, ncent: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.GraftShims.column(graft.functions.VectorFunctions.PqAdc(
      org.apache.spark.sql.GraftShims.expression(col("lut")),
      org.apache.spark.sql.GraftShims.expression(col("code")), ncent))

  private[graft] def knnPqOn(spark: SparkSession, c: DataFrame,
      books: Seq[(Int, Int, Seq[Double])], nQueries: Int, k: Int,
      m: Int, ncent: Int, oversample: Int): DataFrame = {
    val sub = books.head._3.size
    // the corpus-side scan carries only (vec_id, m-int code)
    val codes = pqEncode(
      c.select(col("vec_id"), expr("graft_vdiv(v, norm)").as("v")),
      books, m, sub).select(col("vec_id"), col("code"))
    val luts = pqLuts(spark, c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        expr("graft_vdiv(v, norm)").as("qv")), books, sub)
    // stage 1: coarse ADC scores — m table lookups per candidate
    val coarse = codes.join(broadcast(luts), col("vec_id") =!= col("query_id"))
      .withColumn("approx", adcExpr(m, ncent))
      .select(col("query_id"), col("vec_id"), col("approx"))
    // r14: per-query coarse top-(k·oversample) via the heap aggregate,
    // not a window — the scored candidate set is queries × corpus (or
    // × probed lists); a window re-shuffles and fully sorts it on
    // query_id, where graft_topk's partial aggregation ships ≤
    // k·oversample rows per query per map partition. Same
    // (approx desc, vec_id asc) total order incl. tie-breaks (the
    // ItemCF precedent) — candidate set identical.
    graft.functions.TopKAgg.register(spark)
    val cands = coarse.groupBy(col("query_id"))
      .agg(expr(s"graft_topk(approx, vec_id, ${k * oversample})").as("topk"))
      .select(col("query_id"), explode(expr("topk.id")).as("vec_id"))
    // stage 2: exact re-rank of the survivors only
    val qFull = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val exact = cands
      .join(c.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(qFull), Seq("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rn"))
  }

  /** IVF+PQ (the Faiss `IVFPQ` composition, and the shape that
    * actually serves billion-vector corpora): the coarse quantizer
    * prunes the SCAN to the query's `nprobe` inverted lists, and PQ
    * codes shrink what that scan READS — compute ∝ nprobe/nlist of
    * the corpus at ~10 bytes/vector, against [[knnPq]]'s full-corpus
    * ADC scan and [[ivfSearch]]'s raw-float probed scan. Same
    * two-stage contract as both parents: ADC-coarse top k·oversample
    * within the probed lists, exact re-rank of survivors carrying
    * [[knnBrute]]'s 4-decimal cosine. Both quantizers train on the
    * content-hash sample; assignment and encoding are map-side; the
    * rank shuffle carries (query_id, vec_id, approx) only.
    *
    * FINAL SCALE VERDICT (r14, settling three rounds of the weak
    * ledger): this in-query form is the CORRECTNESS/PARITY rung, not
    * a deployment path, and that is a structural fact, not a tuning
    * gap. A query batch's probe lists union toward the whole corpus
    * as the batch grows (measured r13: a 64-query batch's probes
    * covered ~86% of 2M vectors), so in-query IVF+PQ must encode
    * ~the full corpus per invocation ≈ one index build per batch —
    * 601 s at 2M vs 7.9 s searching the PERSISTED index
    * ([[seedIvfPqStore]]/`searchIvfPqStore`, `knn_ivfpq_store`),
    * whose pre-encoded postings amortize that build across every
    * future batch. r12's post-probe pruned encode already cut what
    * can be cut; the residual gap IS the amortization, by design.
    * The entry stays registered because it value-gates the store
    * rung (IvfStoreSpec pins store ≡ in-query at full probe) and
    * serves one-shot batches with no index at rest. Deployment: the
    * store rung, always.
    */
  def knnIvfPq(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 10,
               nlist: Int = -1, nprobe: Int = -1, m: Int = 16, ncent: Int = -1,
               oversample: Int = -1): DataFrame =
    knnIvfPqOn(spark, corpus(spark, sfDir), nQueries, k, nlist, nprobe,
      m, ncent, oversample)

  /** Core over an injectable (vec_id, v, norm) corpus — spec /
    * scale-bench entry. `nlist`/`nprobe`/`ncent`/`oversample` ≤ 0
    * derive from the corpus count ([[deriveIvfNlist]]/
    * [[deriveIvfNprobe]]/[[derivePqNcent]]/[[derivePqOversample]],
    * the [[knnPq]] contract).
    */
  private[graft] def knnIvfPqOn(spark: SparkSession, rawCorpus: DataFrame,
      nQueries: Int, k: Int, nlist0: Int, nprobe0: Int, m: Int, ncent0: Int,
      oversample0: Int): DataFrame = {
    import spark.implicits._
    val c = rawCorpus.withColumn("fv", array_to_vector(col("v"))).cache()
    val n = c.count() // materializes the cache; knob-derivation input
    val nlist = if (nlist0 > 0) nlist0 else deriveIvfNlist(n)
    val nprobe = if (nprobe0 > 0) nprobe0 else deriveIvfNprobe(nlist)
    val ncent = if (ncent0 > 0) ncent0 else derivePqNcent(n)
    val oversample = if (oversample0 > 0) oversample0 else derivePqOversample(n)
    val coarseCents = fitCoarseCentroids(spark, coarseTrainSample(c, nlist, n), nlist)
    val assigned = assignClusters(c, coarseCents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster"))
    val books = trainPqCodebooks(spark, c, m, ncent)
    val sub = books.head._3.size

    val cents = coarseCents.map { case (i, cv) => (i, cv.toArray) }.toDF("cluster", "cv")
    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    // probe list: nprobe nearest centroids per query
    val qc = q.join(broadcast(cents), lit(true))
      .withColumn("cdist",
        expr("graft_dot(qv, qv)") + expr("graft_dot(cv, cv)") - lit(2.0) * expr("graft_dot(qv, cv)"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist").asc, col("cluster").asc)
    val probes = qc.withColumn("pr", row_number().over(wq)).filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cluster"))
    // Encode ONLY the probed lists' vectors: the coarse stage joins codes
    // on cluster ∈ probes, so codes outside the probe union were pure
    // waste — this was the measured "no-win vs flat PQ" (r10/r11 verdicts:
    // 266 s vs 264 s at 2M). Encode cost is now ∝ |probe union|/nlist of
    // the corpus; output is unchanged (the cluster join already filtered).
    val probedClusters = probes.select(col("cluster")).distinct()
    val codes = pqEncode(
      assigned.join(broadcast(probedClusters), Seq("cluster"), "leftsemi")
        .select(col("vec_id"), col("cluster"),
          expr("graft_vdiv(v, norm)").as("v")),
      books, m, sub).select(col("vec_id"), col("cluster"), col("code"))
    val luts = pqLuts(spark, q.select(col("query_id"),
      expr("graft_vdiv(qv, qnorm)").as("qv")), books, sub)
    // coarse: ADC lookups over ONLY the probed lists' codes
    val coarse = codes.join(broadcast(probes.join(luts, Seq("query_id"))),
        Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", adcExpr(m, ncent))
      .select(col("query_id"), col("vec_id"), col("approx"))
    // r14: per-query coarse top-(k·oversample) via the heap aggregate,
    // not a window — the scored candidate set is queries × corpus (or
    // × probed lists); a window re-shuffles and fully sorts it on
    // query_id, where graft_topk's partial aggregation ships ≤
    // k·oversample rows per query per map partition. Same
    // (approx desc, vec_id asc) total order incl. tie-breaks (the
    // ItemCF precedent) — candidate set identical.
    graft.functions.TopKAgg.register(spark)
    val cands = coarse.groupBy(col("query_id"))
      .agg(expr(s"graft_topk(approx, vec_id, ${k * oversample})").as("topk"))
      .select(col("query_id"), explode(expr("topk.id")).as("vec_id"))
    val exact = cands
      .join(c.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    val out = exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rn"))
      .cache()
    // eager-materialize the tiny result, release the corpus cache
    // (the knnPq convention — no GB-scale storage pinned post-query)
    out.count()
    c.unpersist()
    out
  }

  /** IVF-style ANN: k-means coarse quantizer (MLlib, fixed seed),
    * corpus bucketed by nearest centroid, queries probe their
    * `nprobe` nearest centroids and scan only those buckets.
    * Output schema matches [[knnBrute]] plus the probed-cluster id, so
    * recall against the brute-force baseline is a direct join.
    * `nlist`/`nprobe` ≤ 0 scale-derive from the corpus count
    * ([[deriveIvfNlist]]/[[deriveIvfNprobe]] — the [[knnPq]] knob
    * contract, extended to the coarse stage).
    */
  def ivfSearch(spark: SparkSession, sfDir: String, nQueries: Int = 10, k: Int = 10,
                nlist0: Int = -1, nprobe0: Int = -1): DataFrame = {
    val c = corpus(spark, sfDir).withColumn("fv", array_to_vector(col("v"))).cache()
    val n = c.count() // materializes the cache; knob-derivation + cap input
    val nlist = if (nlist0 > 0) nlist0 else deriveIvfNlist(n)
    val nprobe = if (nprobe0 > 0) nprobe0 else deriveIvfNprobe(nlist)
    // FAISS-style: train the coarse quantizer on a BOUNDED
    // deterministic sample ([[coarseTrainSample]]) — O(100k)
    // training points for O(1k) centroids, never a corpus pass;
    // fit routed by [[fitCoarseCentroids]] (MLlib ≤ 256, Lloyd's above)
    val coarse = fitCoarseCentroids(spark, coarseTrainSample(c, nlist, n), nlist)
    val assigned = assignClusters(c, coarse)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster"))

    // centroid table is tiny: ship it in the closure-free way — as a DataFrame
    import spark.implicits._
    val cents = coarse.map { case (i, cv) => (i, cv.toArray) }.toDF("cluster", "cv")

    val q = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    // probe list: nprobe nearest centroids per query (centroids broadcast)
    val qc = q.join(broadcast(cents), lit(true))
      .withColumn("cdist",
        expr("graft_dot(qv, qv)") + expr("graft_dot(cv, cv)") - lit(2.0) * expr("graft_dot(qv, cv)"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist").asc, col("cluster").asc)
    val probes = qc.withColumn("pr", row_number().over(wq)).filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qnorm"), col("cluster"))

    val scored = assigned.join(broadcast(probes),
        assigned("cluster") === probes("cluster") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
      // slim BEFORE the rank shuffle (same reasoning as knnBrute)
      .select(col("query_id"), col("vec_id"), col("cos"),
        assigned("cluster").as("cluster"))
    // NOTE: c stays cached — the returned plan scans it again for both
    // the probe and corpus sides, so unpersisting here would force the
    // caller's action to recompute the corpus + assignment from scratch.
    // Callers (bench, verify) drop it via spark.catalog.clearCache().
    // r15: rank through the packed-key heap, not a window (see
    // [[heapRankWithCluster]] / the searchIvfStore commentary).
    heapRankWithCluster(spark, scored, k)
  }

  // ---------------------------------------------------------------
  // persisted IVF index: centroids artifact + postings BucketStore

  /** The k nearest centroid ids by squared-L2, ordered (dist, id) —
    * the quantizer ships to every task as a reference object, so
    * assignment and probing stay MAP-SIDE (zero shuffle), the way a
    * 100 TB assign pass must run; bounded by `nlist` (the one
    * sanctioned driver-side materialization here, same class as
    * BucketStore's bucket-id pull). Computed as
    * one codegen'd pass over the row's vector
    * ([[graft.functions.VectorFunctions.NearestClusters]]; the prior
    * `array_min`/`array_sort` over a `transform(cents, …)` literal
    * interpreted the whole nc·dim MAC per row — the dominant term of
    * every corpus-wide assignment). This flat scan serves the
    * QUERY-side probe selection (k = nprobe, cost ∝ queries — never
    * corpus-proportional); the corpus-wide k = 1 assignment is
    * [[assignClusters]].
    */
  private def nearestClustersCol(vCol: String,
      cents: Seq[(Int, Seq[Double])], k: Int): org.apache.spark.sql.Column = {
    val dim = cents.head._2.size
    org.apache.spark.sql.GraftShims.column(
      graft.functions.VectorFunctions.NearestClusters(
        org.apache.spark.sql.GraftShims.expression(col(vCol)),
        cents.flatMap(_._2).toArray,
        cents.map(_._2.map(x => x * x).sum).toArray,
        cents.map(_._1).toArray, dim, k))
  }

  /** Nearest-centroid assignment, map-side; ties break to the lowest
    * cluster id — the EXACT global argmin as one allocation-free
    * codegen loop over every centroid
    * ([[graft.functions.VectorFunctions.NearestClusters]], k = 1),
    * centroids shipped as reference objects, zero shuffle.
    *
    * Flat at every nlist, by measurement (r17, 2M dim-64 vectors):
    * flat 11.4 / 39.2 s against an exact ball-pruned two-level scan's
    * 15.1 / 96.1 s at nlist 2048 / 8192 — in high dimension the group
    * radii stay near the inter-group distances, so the triangle bound
    * prunes almost nothing. The top-k-groups heuristic is sub-linear
    * but cost IVF recall (1.0000 → 0.9594 at 2M): a vector in the
    * wrong inverted list is missed at any nprobe.
    */
  private[graft] def assignClusters(df: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    df.withColumn("cluster", element_at(nearestClustersCol("v", cents, 1), 1))
  }

  /** Below this many centroids the coarse fit stays on MLlib KMeans
    * (seed 42, maxIter 10) — bit-parity with every pre-r17 centroid
    * artifact and registered output (test SFs derive nlist ≤ 256).
    * Above it [[lloydCentroids]] takes over: MLlib's k-means|| init
    * refines ~2·initSteps·k candidates with a SINGLE-THREADED
    * driver-side local k-means, whose cost grows with k² — the
    * IvfBuildPhaseProbe receipt at 2M vectors / nlist 2048 measured
    * the whole MLlib fit at ~36 s on a 131k-row bounded sample, the
    * DOMINANT term of the derived build (the corpus-wide assignment
    * the r16 verdict blamed measured 11–15 s, and the bucket write
    * the rest). The scalable rail is plain distributed Lloyd's:
    * content-hash-ordered deterministic init from the sample, each
    * iteration one bounded-sample [[assignClusters]] pass (the same
    * exact map-side argmin the build itself uses) plus an
    * nlist·dim-sized per-partition reduce — no driver-side
    * k-quadratic step anywhere.
    */
  private[graft] val ScalableTrainMinNlist = 257

  /** One coarse k-means fit for every quantizer site, routed by
    * [[ScalableTrainMinNlist]]: the `sample` is the bounded
    * deterministic [[coarseTrainSample]] output (columns incl. `v`);
    * returns id-ordered `(cluster, centroid)` pairs. The MLlib rail
    * reproduces the historical fit bit-for-bit (same seed/maxIter,
    * fv added here); the Lloyd's rail is deterministic given the
    * sample's partition layout (init is content-ordered and
    * layout-free; the per-iteration mean reduce inherits fp addition
    * order from the layout — the same practical determinism the
    * seeded MLlib fit has).
    */
  private[graft] def fitCoarseCentroids(spark: SparkSession, sample: DataFrame,
      nlist: Int): Seq[(Int, Seq[Double])] =
    if (nlist < ScalableTrainMinNlist) {
      val train = sample.withColumn("fv", array_to_vector(col("v")))
      val model = new KMeans().setK(nlist).setSeed(42L).setFeaturesCol("fv")
        .setMaxIter(10).fit(train)
      model.clusterCenters.zipWithIndex
        .map { case (vec, i) => (i, vec.toArray.toSeq) }.toSeq
    } else lloydCentroids(sample, nlist)

  /** Byte budget for collecting the bounded train sample to the
    * driver ([[lloydLocal]]): rows·dim·8 ≤ 512 MB. The sample is
    * already artifact-bounded ([[coarseTrainCap]] — ≤ 4.2M rows at
    * the nlist clamp), so at common embedding widths the whole fit
    * runs driver-local (dim 64 → samples to ~1M rows); only
    * wide-vector clamp-regime fits fall through to the distributed
    * rail.
    */
  private[graft] val LocalTrainMaxBytes: Long = 512L << 20

  /** Lloyd's for large coarse quantizers (the
    * [[ScalableTrainMinNlist]] rail). Init: the first `nlist`
    * DISTINCT sample vectors in content-hash order — deterministic,
    * layout-independent, and data-distributed (FAISS trains its IVF
    * coarse quantizers with plain Lloyd's from sampled points too;
    * with nlist ≪ sample size every dense region seeds multiple
    * centroids, and a coarse quantizer needs coverage, not optimal
    * quantization error). Then ≤ `maxIter` Lloyd's iterations with
    * ties to the lowest centroid id, empty clusters keeping their
    * previous centroid, and
    * early exit when no coordinate moved > 1e-12 — on one of two
    * rails picked by [[LocalTrainMaxBytes]]:
    *
    *   - [[lloydLocal]] (sample fits the driver budget): points
    *     collected once and sorted into a layout-free total order,
    *     assignment fanned across the JVM's cores, means accumulated
    *     sequentially in that order — FULLY deterministic, zero
    *     per-iteration job/codegen overhead. The r17 probe receipt:
    *     the distributed loop spent ~3 s/iteration on job overhead +
    *     per-iteration codegen + boxed aggregation for ~0.5 s of
    *     arithmetic (131k×2048×64).
    *   - [[lloydDistributed]] (wide-vector clamp-regime samples):
    *     per-iteration [[assignClusters]] pass + per-partition
    *     primitive-array (sum, count) combine — shuffle is
    *     nlist·dim·partitions, sample-size-free; deterministic given
    *     the sample's partition layout (fp addition order — the same
    *     practical determinism the seeded MLlib fit has).
    */
  private[graft] def lloydCentroids(sample0: DataFrame, nlist: Int,
      maxIter: Int = 10): Seq[(Int, Seq[Double])] = {
    val sample = sample0.select(col("v")).cache()
    try {
      val rows = sample.count()
      val init: Array[Array[Double]] = sample.distinct()
        .orderBy(xxhash64(col("v")), md5(to_json(struct(col("v")))))
        .limit(nlist).collect()
        .map(_.getSeq[Double](0).toArray)
      require(init.nonEmpty, "lloydCentroids needs a non-empty train sample")
      val dim = init.head.length
      if (rows * dim * 8 <= LocalTrainMaxBytes) lloydLocal(sample, init, maxIter)
      else lloydDistributed(sample, init, maxIter)
    } finally { sample.unpersist(); () }
  }

  /** Driver-local multithreaded Lloyd's over a budget-bounded sample
    * (see [[lloydCentroids]]). Assignment is embarrassingly parallel
    * (each point's argmin is independent — `IntStream.parallel`
    * across the JVM's cores, argmin of ‖c‖² − 2·⟨v,c⟩ with strict <
    * keeping the lowest id on ties, matching the expression rails);
    * the mean accumulation runs sequentially over the pre-sorted
    * point order, so the result is bit-deterministic regardless of
    * thread scheduling or the sample's partition layout.
    */
  private[graft] def lloydLocal(sample: DataFrame, init: Array[Array[Double]],
      maxIter: Int): Seq[(Int, Seq[Double])] = {
    val dim = init.head.length
    val pts: Array[Array[Double]] = sample.collect().map(_.getSeq[Double](0).toArray)
    // layout-free total order: lexicographic by coordinate, then length
    java.util.Arrays.sort(pts, new java.util.Comparator[Array[Double]] {
      override def compare(a: Array[Double], b: Array[Double]): Int = {
        val n = math.min(a.length, b.length)
        var j = 0
        while (j < n) {
          val c = java.lang.Double.compare(a(j), b(j))
          if (c != 0) return c
          j += 1
        }
        Integer.compare(a.length, b.length)
      }
    })
    val npts = pts.length
    val assign = new Array[Int](npts)
    var cents = init
    var iter = 0
    var moved = true
    while (moved && iter < maxIter) {
      val k = cents.length
      val flat = new Array[Double](k * dim)
      val c2 = new Array[Double](k)
      var ci = 0
      while (ci < k) {
        val c0 = cents(ci)
        var j = 0
        var s = 0.0
        while (j < dim) { val x = c0(j); flat(ci * dim + j) = x; s += x * x; j += 1 }
        c2(ci) = s; ci += 1
      }
      java.util.stream.IntStream.range(0, npts).parallel().forEach { p =>
        val v = pts(p)
        val nd = math.min(v.length, dim)
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var dot = 0.0
          var j = 0
          val base = c * dim
          while (j < nd) { dot += v(j) * flat(base + j); j += 1 }
          val d = c2(c) - 2.0 * dot // + ‖v‖², constant per point
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        assign(p) = best
      }
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      var p = 0
      while (p < npts) {
        val a = assign(p)
        cnt(a) += 1
        val v = pts(p)
        val s = sums(a)
        val nd = math.min(v.length, dim)
        var j = 0
        while (j < nd) { s(j) += v(j); j += 1 }
        p += 1
      }
      val next = cents.map(_.clone())
      ci = 0
      while (ci < k) {
        if (cnt(ci) > 0) {
          val m = next(ci)
          var j = 0
          while (j < dim) { m(j) = sums(ci)(j) / cnt(ci); j += 1 }
        }
        ci += 1
      }
      moved = false
      ci = 0
      while (ci < k && !moved) {
        var j = 0
        val a = cents(ci); val b = next(ci)
        while (j < dim && !moved) {
          if (math.abs(a(j) - b(j)) > 1e-12) moved = true
          j += 1
        }
        ci += 1
      }
      cents = next
      iter += 1
    }
    cents.toIndexedSeq.zipWithIndex.map { case (c0, i) => (i, c0.toSeq) }
  }

  /** Distributed Lloyd's (see [[lloydCentroids]] — the over-budget
    * rail). Per-iteration cost is O(sample·nlist·dim) assignment +
    * an nlist·dim·partitions shuffle — nothing quadratic in nlist,
    * nothing corpus-proportional.
    */
  private[graft] def lloydDistributed(sample: DataFrame, init: Array[Array[Double]],
      maxIter: Int): Seq[(Int, Seq[Double])] = {
    val dim = init.head.length
    var cents = init
    var iter = 0
    var moved = true
    while (moved && iter < maxIter) {
      val centSeq = cents.toIndexedSeq.zipWithIndex
        .map { case (c0, i) => (i, c0.toSeq) }
      val agg = assignClusters(sample, centSeq)
        .select(col("cluster"), col("v"))
        .rdd.map(r => (r.getInt(0), r.getSeq[Double](1)))
        .aggregateByKey((new Array[Double](dim), 0L))(
          { case ((s, c0), v) =>
            var j = 0; while (j < dim) { s(j) += v(j); j += 1 }; (s, c0 + 1) },
          { case ((s1, c1), (s2, c2)) =>
            var j = 0; while (j < dim) { s1(j) += s2(j); j += 1 }; (s1, c1 + c2) })
        .collect()
      val next = cents.map(_.clone())
      agg.foreach { case (ci, (s, cnt)) =>
        if (cnt > 0) {
          val m = next(ci)
          var j = 0; while (j < dim) { m(j) = s(j) / cnt; j += 1 }
        }
      }
      moved = false
      var ci = 0
      while (ci < cents.length && !moved) {
        var j = 0
        val a = cents(ci); val b = next(ci)
        while (j < dim && !moved) {
          if (math.abs(a(j) - b(j)) > 1e-12) moved = true
          j += 1
        }
        ci += 1
      }
      cents = next
      iter += 1
    }
    cents.toIndexedSeq.zipWithIndex.map { case (c0, i) => (i, c0.toSeq) }
  }

  /** Train the coarse quantizer on a BOUNDED deterministic sample of
    * `df` ([[coarseTrainSample]] — O(100k) points for O(1k)
    * centroids, never a corpus pass) and persist it as a tiny
    * parquet artifact `(cluster, cv)` — the index's only
    * driver-scale state. `n` < 0 counts `df` (one column-pruned
    * pass); seed/rebuild callers that already hold the corpus count
    * pass it through. The fit itself routes through
    * [[fitCoarseCentroids]] (MLlib below [[ScalableTrainMinNlist]],
    * distributed Lloyd's above).
    */
  private[graft] def trainQuantizer(spark: SparkSession, df: DataFrame,
      centroidsDir: String, nlist: Int, n: Long = -1L): Seq[(Int, Seq[Double])] = {
    import spark.implicits._
    val rows = if (n >= 0L) n else df.count()
    val cents = fitCoarseCentroids(spark, coarseTrainSample(df, nlist, rows), nlist)
    cents.toDF("cluster", "cv").coalesce(1)
      .write.mode("overwrite").parquet(centroidsDir)
    cents
  }

  private[graft] def loadCentroids(spark: SparkSession, centroidsDir: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(centroidsDir)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  /** Seed the postings store: vectors assigned to their nearest
    * centroid, bucketed BY CLUSTER ID — IVF's inverted lists ARE the
    * store's buckets, so probe-time pruning is
    * [[graft.streaming.BucketStore.readBuckets]] and an append tick
    * touches exactly the clusters that receive new vectors.
    */
  private[graft] def seedIvfStore(spark: SparkSession, vectors: DataFrame,
      storeDir: String, cents: Seq[(Int, Seq[Double])], nlist: Int): Unit =
    graft.streaming.BucketStore.seed(
      assignClusters(vectors, cents),
      graft.streaming.BucketStore.longBucket(col("cluster"), nlist),
      storeDir, nlist)

  /** Append new vectors to the persisted index as ONE tick: assign
    * with the FROZEN quantizer (standard IVF practice — re-training
    * is an index rebuild, not a tick), then advance the store through
    * the generation-publish protocol. Touched buckets = the clusters
    * the batch's vectors land in; untouched inverted lists stay
    * byte-identical.
    *
    * `removedVectors` are CDC tombstones and must carry the INDEXED
    * (before-image) embedding: the inverted lists are keyed by
    * content, not id, so the only way to name a delete's bucket
    * without an id→cluster sidecar or a full scan is to re-derive its
    * cluster from the embedding the index holds — deterministic under
    * the frozen quantizer. A re-embedded vector is delete(old image) +
    * upsert(new image) in the same batch; the upsert wins on key
    * collision (applyTick merges changes after the drop).
    *
    * A tombstone-free tick (new vec_ids ONLY — the strict append
    * contract, same key-purity rule as the banded row stores) takes
    * [[graft.streaming.BucketStore.applyAppendTick]]: the delta
    * stacks as one generation with ZERO carry-over reads, so tick
    * write I/O ∝ the batch — the `appendBm25Tick` protocol. Because
    * the append path never performs keyed replacement, a vec_id
    * re-sent on a LATER tombstone-free tick coexists as a duplicate
    * row (double-counted by search/mining) — a re-embed must arrive
    * as CDC delete(old image)+upsert(new image), which routes through
    * the keyed merge below. CDC batches must merge (rows have to come
    * OUT of a bucket), so they stay on `applyTick`, which collapses a
    * touched bucket's generation stack back to one.
    */
  private[graft] def ivfAppendTick(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], newVectors: DataFrame,
      batchId: Long, nlist: Int,
      removedVectors: Option[DataFrame] = None): Unit = {
    def bucketed(df: DataFrame) = assignClusters(df, cents)
      .withColumn(graft.streaming.BucketStore.BucketCol,
        graft.streaming.BucketStore.longBucket(col("cluster"), nlist))
    removedVectors match {
      case Some(removed) =>
        graft.streaming.BucketStore.applyTick(spark, storeDir,
          bucketed(newVectors),
          Seq("vec_id"), batchId = batchId, n = nlist,
          removed = Some(bucketed(removed)
            .select(col("vec_id"), col(graft.streaming.BucketStore.BucketCol))))
      case None =>
        graft.streaming.BucketStore.applyAppendTick(spark, storeDir,
          bucketed(newVectors), batchId = batchId, n = nlist)
    }
    ()
  }

  /** Search the persisted index: probe lists are computed map-side
    * against the centroid literal, the union of probed clusters
    * (≤ nlist ids) names the store buckets, and ONLY those inverted
    * lists are read back — the scan fraction ≈ nprobe/nlist is
    * enforced by the store layout, not by a filter over a full scan.
    */
  private[graft] def searchIvfStore(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], queries: DataFrame,
      k: Int, nprobe: Int, nlist: Int): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val probes = queries
      .select(col("query_id"), col("qv"), col("qnorm"),
        explode(nearestClustersCol("qv", cents, nprobe)).as("cluster"))
    val touched = graft.streaming.BucketStore.touchedBuckets(
      probes.select(col("cluster").as(graft.streaming.BucketStore.BucketCol)))
    val postings = graft.streaming.BucketStore.readBuckets(spark, storeDir, touched, nlist)
    val scored = postings.join(broadcast(probes),
        postings("cluster") === probes("cluster") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
      // slim BEFORE the rank shuffle (same reasoning as knnBrute)
      .select(col("query_id"), col("vec_id"), col("cos"),
        postings("cluster").as("cluster"))
    // r15: the last ANN rank site off the per-query window (§7k.4's
    // sweep couldn't take it because the output carries `cluster`,
    // which the (score, id) heap has no slot for). The ItemCF pair-key
    // packing precedent solves it: pack (vec_id << 16 | cluster) into
    // the heap's id long — cluster always fits 16 bits (deriveIvfNlist
    // clamps at 65536) and each (query, vec_id) appears at most once
    // (a vector lives in exactly one inverted list), so id-asc on the
    // packed key ≡ vec_id asc, the window's exact tie-break. A window
    // sorts the whole probed set (≈ nprobe·1k rows/query under derived
    // knobs, corpus/4 under the old fixed ones) in ONE task per query;
    // graft_topk ships ≤ k rows per query per map partition.
    // Contract: vec_id ∈ [0, 2^47) keeps the packed long non-negative
    // and order-preserving (the packPair unsigned-shift caveat).
    graft.functions.TopKAgg.register(spark)
    heapRankWithCluster(spark, scored, k)
  }

  /** Per-query top-k of (query_id, vec_id, cos, cluster) through the
    * graft_topk heap with (vec_id << 16 | cluster) key packing —
    * [[searchIvfStore]]'s rank stage, shared by [[ivfSearch]]. Total
    * order ≡ the window formulation's (cos desc, vec_id asc) incl.
    * NaN placement (the Heap's nanSafeCompare).
    *
    * Pack-time guard (r16): the derived knobs clamp nlist ≤ 65536,
    * but the public entries still accept an explicit nlist0 and any
    * vec_id domain — a cluster ≥ 2^16, a vec_id ≥ 2^47 (snowflake-
    * style ids) or a negative id would overflow the packed bits and
    * SILENTLY corrupt neighbor_id/cluster/ordering. Out-of-range rows
    * raise instead (the PqEncode short-vector loud-failure contract);
    * the branch is codegen'd and never taken on in-contract data.
    */
  private[graft] def heapRankWithCluster(spark: SparkSession, scored: DataFrame,
      k: Int): DataFrame = {
    graft.functions.TopKAgg.register(spark)
    val vid = col("vec_id").cast("long")
    val packed = when(
      vid >= 0L && vid < (1L << 47) &&
        col("cluster") >= 0 && col("cluster") < (1 << 16),
      shiftleft(vid, 16) + col("cluster"))
      .otherwise(raise_error(concat(
        lit("heapRankWithCluster: unpackable row — require vec_id in [0, 2^47) " +
          "and cluster in [0, 65536), got vec_id="),
        vid.cast("string"), lit(" cluster="), col("cluster").cast("string"))))
    scored.select(col("query_id"), col("cos"), packed.as("pk"))
      .groupBy(col("query_id"))
      .agg(expr(s"graft_topk(cos, pk, $k)").as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        shiftrightunsigned(col("col.id"), 16).as("neighbor_id"),
        col("col.score").as("cos"),
        (col("pos") + 1).cast("int").as("rn"),
        col("col.id").bitwiseAND(lit(0xffffL)).cast("int").as("cluster"))
  }

  // ---------------------------------------------------------------
  // IVF+PQ persisted index: PRE-ENCODED codes in the postings store.
  //
  // The round-10 measurement that motivates this: IN-QUERY IVF+PQ is
  // NOT faster than flat PQ (266 s vs 264 s at 2M vectors) because
  // both arms re-encode the full corpus inside the query. The
  // composition's entire win — compute ∝ (nprobe/nlist) of the corpus
  // at ~10 code-bytes/vector — only exists when the encode happens
  // ONCE, at seed/tick time, and searches read codes at rest. That is
  // the standard Faiss `IVFPQ` deployment shape, and the first thing
  // a 100 TB ANN user reaches for.

  /** Persist PQ codebooks as a tiny parquet artifact (s, cid, cv) —
    * the index's second frozen quantizer (the coarse centroids are
    * the first). m·ncent rows, driver/broadcast scale by
    * construction.
    */
  private[graft] def saveCodebooks(spark: SparkSession,
      books: Seq[(Int, Int, Seq[Double])], dir: String): Unit = {
    import spark.implicits._
    books.toDF("s", "cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(dir)
  }

  private[graft] def loadCodebooks(spark: SparkSession,
      dir: String): Seq[(Int, Int, Seq[Double])] =
    spark.read.parquet(dir)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSeq.sortBy(t => (t._1, t._2))

  /** Map-side encode of (…, v, norm, …) postings rows: adds `code`
    * (m small ints over the UNIT-normalized vector — the ADC cosine
    * contract) while KEEPING the raw vector + norm. Codes and raw
    * vectors live in the same parquet rows but different COLUMNS, so
    * the coarse scan's (vec_id, cluster, code) projection never
    * touches the vector bytes — the columnar-refine layout.
    */
  private def encodePostings(df: DataFrame, books: Seq[(Int, Int, Seq[Double])],
      m: Int, sub: Int): DataFrame = {
    val cols = df.columns
    val enc = pqEncode(
      df.withColumnRenamed("v", "rawv")
        .withColumn("v", expr("graft_vdiv(rawv, norm)")),
      books, m, sub)
    enc.drop("v").withColumnRenamed("rawv", "v")
      .select((cols :+ "code").map(col): _*)
  }

  /** Seed the IVF+PQ postings store — [[seedIvfStore]] plus the
    * stored `code` column: assignment AND encoding are map-side
    * against the two broadcast-literal quantizers, buckets are the
    * inverted lists, and the corpus-scale encode leaves the query
    * path for good.
    */
  private[graft] def seedIvfPqStore(spark: SparkSession, vectors: DataFrame,
      storeDir: String, cents: Seq[(Int, Seq[Double])],
      books: Seq[(Int, Int, Seq[Double])], nlist: Int): Unit = {
    val m = books.map(_._1).max + 1
    val sub = books.head._3.size
    graft.streaming.BucketStore.seed(
      encodePostings(assignClusters(vectors, cents), books, m, sub),
      graft.streaming.BucketStore.longBucket(col("cluster"), nlist),
      storeDir, nlist)
  }

  /** One IVF+PQ append tick: assign + ENCODE the batch map-side under
    * both FROZEN quantizers, then the generation-publish apply —
    * [[ivfAppendTick]]'s contract (including the CDC tombstone
    * semantics: deletes carry the before-image embedding and are
    * bucketed by re-derived cluster, never encoded; tombstone-free
    * ticks stack an O(delta) append generation, CDC ticks merge).
    */
  private[graft] def ivfPqAppendTick(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], books: Seq[(Int, Int, Seq[Double])],
      newVectors: DataFrame, batchId: Long, nlist: Int,
      removedVectors: Option[DataFrame] = None): Unit = {
    import graft.streaming.BucketStore
    val m = books.map(_._1).max + 1
    val sub = books.head._3.size
    val appended = encodePostings(assignClusters(newVectors, cents), books, m, sub)
      .withColumn(BucketStore.BucketCol,
        BucketStore.longBucket(col("cluster"), nlist))
    removedVectors match {
      case Some(removed) =>
        graft.streaming.BucketStore.applyTick(spark, storeDir, appended,
          Seq("vec_id"), batchId = batchId, n = nlist,
          removed = Some(assignClusters(removed, cents)
            .withColumn(BucketStore.BucketCol,
              BucketStore.longBucket(col("cluster"), nlist))
            .select(col("vec_id"), col(BucketStore.BucketCol))))
      case None =>
        graft.streaming.BucketStore.applyAppendTick(spark, storeDir, appended,
          batchId = batchId, n = nlist)
    }
    ()
  }

  /** Search the persisted IVF+PQ index: probe lists map-side against
    * the centroid literal, ONLY the probed clusters' buckets read,
    * and the coarse stage projects ONLY (vec_id, cluster, code) —
    * parquet column pruning leaves the raw vectors on disk
    * (IvfStoreSpec pins the ReadSchema) — scoring by ADC table
    * lookups over codes encoded at SEED time. The exact re-rank
    * joins the k·oversample survivors back against the same pruned
    * buckets' (vec_id, v, norm) columns. Per-query work:
    * (nprobe/nlist)·corpus·m lookups + k·oversample exact dots — no
    * encode anywhere.
    */
  private[graft] def searchIvfPqStore(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], books: Seq[(Int, Int, Seq[Double])],
      queries: DataFrame, k: Int, nprobe: Int, nlist: Int,
      oversample: Int): DataFrame = {
    import graft.streaming.BucketStore
    graft.functions.VectorFunctions.register(spark)
    val m = books.map(_._1).max + 1
    val ncent = books.count(_._1 == 0)
    val sub = books.head._3.size
    val probes = queries
      .select(col("query_id"),
        explode(nearestClustersCol("qv", cents, nprobe)).as("cluster"))
    val touched = BucketStore.touchedBuckets(
      probes.select(col("cluster").as(BucketStore.BucketCol)))
    val postings = BucketStore.readBuckets(spark, storeDir, touched, nlist)
    val luts = pqLuts(spark, queries.select(col("query_id"),
      expr("graft_vdiv(qv, qnorm)").as("qv")), books, sub)
    // coarse: ADC over STORED codes in the probed lists only
    val coarse = postings.select(col("vec_id"), col("cluster"), col("code"))
      .join(broadcast(probes.join(luts, Seq("query_id"))), Seq("cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", adcExpr(m, ncent))
      .select(col("query_id"), col("vec_id"), col("approx"))
    // r14: per-query coarse top-(k·oversample) via the heap aggregate,
    // not a window — the scored candidate set is queries × corpus (or
    // × probed lists); a window re-shuffles and fully sorts it on
    // query_id, where graft_topk's partial aggregation ships ≤
    // k·oversample rows per query per map partition. Same
    // (approx desc, vec_id asc) total order incl. tie-breaks (the
    // ItemCF precedent) — candidate set identical.
    graft.functions.TopKAgg.register(spark)
    val cands = coarse.groupBy(col("query_id"))
      .agg(expr(s"graft_topk(approx, vec_id, ${k * oversample})").as("topk"))
      .select(col("query_id"), explode(expr("topk.id")).as("vec_id"))
    // exact re-rank: survivors' raw vectors from the same pruned
    // buckets (different parquet columns, same files)
    val exact = cands
      .join(postings.select(col("vec_id"), col("v"), col("norm")), Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("qv"), col("qnorm"))),
        Seq("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("vec_id").asc)
    exact.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos"), col("rn"))
  }

  /** The IVF+PQ index LIFECYCLE as a registered query
    * (`knn_ivfpq_store`): coarse quantizer + PQ codebooks trained on
    * the base split (vec_id % 10 ≠ 7) and frozen to parquet
    * artifacts, base postings (raw vector + norm + m-int code)
    * seeded into the cluster-bucketed store, the held-out split
    * appended as ONE tick (assign + encode map-side under both
    * frozen quantizers), queries answered from the READ-BACK index.
    * Rows-only (two k-means trainings — not SQL-expressible);
    * IvfStoreSpec gates tick ≡ one-shot postings parity, the
    * full-probe ≡ flat-PQ-ADC recall identity, and the coarse scan's
    * column pruning. `ncent`/`oversample` ≤ 0 scale-derive from the
    * corpus count (the [[knnPq]] contract).
    */
  def ivfPqStoreSearch(spark: SparkSession, sfDir: String, nQueries: Int = 10,
      k: Int = 10, nlist0: Int = -1, nprobe0: Int = -1, m: Int = 16,
      ncent: Int = -1, oversample: Int = -1,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((sfDir + "#ivfpq").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val storeDir = s"$artifactDir/ivfpq_store_$digest"
    val centroidsDir = s"$artifactDir/ivfpq_cents_$digest"
    val codebooksDir = s"$artifactDir/ivfpq_books_$digest"
    val c = corpus(spark, sfDir).cache()
    val n = c.count()
    val nlist = if (nlist0 > 0) nlist0 else deriveIvfNlist(n)
    val nprobe = if (nprobe0 > 0) nprobe0 else deriveIvfNprobe(nlist)
    val nc = if (ncent > 0) ncent else derivePqNcent(n)
    val os = if (oversample > 0) oversample else derivePqOversample(n)
    val base = c.filter(col("vec_id") % 10 =!= 7).select("vec_id", "v", "norm")
    val delta = c.filter(col("vec_id") % 10 === 7).select("vec_id", "v", "norm")
    // r15 receipt for the r14 "train phase 1.12 → 10.57 s" watch item:
    // NOT a train-path regression. Measured in the SAME Bench harness
    // at sf0.1 — solo: train 2.44 s; after the five in-family
    // predecessors: 1.66 s; steady-state repeats in one session:
    // 2.05/2.03/1.81 s (TrainPhaseProbe). The official full-bench
    // number is whole-session contention (130 preceding queries'
    // accumulated heap/GC and listener debris landing on this query's
    // driver-bound MLlib fits — train is two k-means over ≤ 2k rows,
    // ~100% scheduler/driver overhead at this SF, exactly the work
    // profile session debris inflates). The r14 native expressions are
    // exonerated by the same measurements: they run in seed/tick/
    // search, and those phases moved nothing.
    val (cents, books) = graft.PhaseTimer.timed("knn_ivfpq_store", "train") {
      val ce = trainQuantizer(spark, base, centroidsDir, nlist)
      val bo = trainPqCodebooks(spark, base, m, nc)
      saveCodebooks(spark, bo, codebooksDir)
      (ce, bo)
    }
    graft.PhaseTimer.timed("knn_ivfpq_store", "seed") {
      seedIvfPqStore(spark, base, storeDir, cents, books, nlist)
    }
    graft.PhaseTimer.timed("knn_ivfpq_store", "tick") {
      ivfPqAppendTick(spark, storeDir, loadCentroids(spark, centroidsDir),
        loadCodebooks(spark, codebooksDir), delta, batchId = 0L, nlist = nlist)
    }
    val queries = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val out = graft.PhaseTimer.timed("knn_ivfpq_store", "search") {
      val o = searchIvfPqStore(spark, storeDir, cents, books, queries,
        k, nprobe, nlist, os).cache()
      o.count()
      o
    }
    c.unpersist()
    out
  }

  // ----- recall-drift probe: when to trigger the rebuild ----------

  /** One probe measurement: `sampledRecall` over `nQueries` sampled
    * queries, `tripped` when it fell below the configured threshold.
    */
  case class IvfProbeResult(sampledRecall: Double, nQueries: Int, tripped: Boolean) {
    override def toString: String =
      f"ivfProbe[recall=$sampledRecall%.3f queries=$nQueries tripped=$tripped]"
  }

  /** Sampled-recall probe against the persisted index: for each query,
    * the fraction of its TRUE top-`k` cosine neighbors (brute force
    * over the store) whose assigned cluster is in the query's `nprobe`
    * probe list. Because in-bucket scoring is exact, this bucket
    * recall IS the search recall — a vector the probe list misses is
    * exactly a vector [[searchIvfStore]] cannot return. Recall decays
    * invisibly as appends drift from the FROZEN quantizer; this probe
    * makes the [[rebuildIvfIndex]] decision data-driven instead of
    * operator guesswork.
    *
    * Cost: one scan of the store (broadcast-joined against the tiny
    * query sample) per probed tick — no bucket reads, no window over
    * the corpus beyond the per-query top-k. The 100 TB knobs are in
    * [[IvfProbeConfig]]: probe every N ticks, and/or hash-sample the
    * corpus side with `corpusFraction` (recall against a uniform
    * subcorpus is an unbiased drift signal — drift moves the whole
    * distribution, not individual ranks).
    */
  private[graft] def ivfRecallProbe(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], queries: DataFrame,
      k: Int, nprobe: Int, nlist: Int, threshold: Double,
      corpusFraction: Double = 1.0): IvfProbeResult = {
    graft.functions.VectorFunctions.register(spark)
    val all = graft.streaming.BucketStore.readAll(spark, storeDir)
    val postings =
      if (corpusFraction >= 1.0) all
      else {
        val gate = f"${(corpusFraction * 256).toInt}%02x"
        all.filter(substring(md5(col("vec_id").cast("string")), 1, 2) < lit(gate))
      }
    // probe list per query, map-side against the centroid artifact
    val probed = queries
      .withColumn("probed", nearestClustersCol("qv", cents, nprobe))
      .select(col("query_id"), col("qv"), col("qnorm"), col("probed"))
    // true top-k over the (sampled) store, with each neighbor's
    // assigned cluster riding along; hit = cluster ∈ probe list.
    // r15: ranked through the packed-key heap like searchIvfStore —
    // the window sorted each query's whole (sampled) store scan in
    // one task; the probe's truth pass is corpus-∝ by design, so its
    // rank stage shouldn't be single-task too
    val scored = postings.join(broadcast(probed), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(expr(dot) / (col("norm") * col("qnorm")), 4))
      .select(col("query_id"), col("vec_id"), col("cos"), col("cluster"))
    val truth = heapRankWithCluster(spark, scored, k)
      .join(broadcast(probed.select(col("query_id"), col("probed"))), Seq("query_id"))
      .withColumn("hit", array_contains(col("probed"), col("cluster")))
    val agg = truth.agg(
      avg(col("hit").cast("double")).as("recall"),
      count_distinct(col("query_id")).as("nq")).collect()(0)
    // an empty probe set (empty tick sample / empty store) is "no
    // evidence", not "no recall" — report 1.0 untripped
    val recall = if (agg.isNullAt(0)) 1.0 else agg.getDouble(0)
    IvfProbeResult(recall, agg.getLong(1).toInt, tripped = recall < threshold)
  }

  /** Probe policy for the continuous maintainer
    * ([[graft.streaming.DocStream.startIvfMaintain]]): every
    * `everyNTicks` ticks, `sample` of the tick's upserted vectors
    * become probe queries (freshly landed data is where drift shows
    * first), recall is measured via [[ivfRecallProbe]] and logged with
    * the tick stats; below `threshold`, `onDrift` fires — typically
    * recorded by the operator loop that stops the maintainer, runs
    * [[rebuildIvfIndex]], and restarts against the new version (the
    * rebuild is a versioned-root cutover, so readers never block).
    *
    * The tick sample has a BLIND SPOT: drift that degrades OLD
    * vectors' neighborhoods (a tick's mass landing across a boundary
    * the quantizer drew for data that no longer looks like this
    * damages the HISTORICAL corpus's recall, while a later benign
    * tick's own sample reads healthy). `corpusSample` > 0 arms a
    * second, typically rarer probe (`corpusEveryNTicks`) whose
    * queries are hash-sampled from the WHOLE store — recall over a
    * uniform subcorpus, the unbiased drift signal. Costs one extra
    * column-pruned store scan for the sample draw on top of the
    * probe's own truth scan; at 100 TB pair it with `corpusFraction`
    * to bound the truth side too.
    */
  /** `nprobe` ≤ 0 (the r15 default) derives from the index's actual
    * list count at probe time ([[deriveIvfNprobe]] via the
    * maintainer's `probeWidth`) so the probe measures recall at the
    * operating point derived-knob searches use.
    */
  case class IvfProbeConfig(sample: Int = 8, k: Int = 10, nprobe: Int = -1,
      threshold: Double = 0.9, corpusFraction: Double = 1.0,
      everyNTicks: Int = 1, onDrift: (Long, IvfProbeResult) => Unit = (_, _) => (),
      corpusSample: Int = 0, corpusEveryNTicks: Int = 0)

  // ----- versioned index root: rebuild with atomic cutover --------

  /** The one mutation [[ivfAppendTick]] cannot express is re-TRAINING
    * the quantizer — centroid drift after enough appends degrades
    * recall, and re-assignment moves every posting, so IVF practice
    * is a full index REBUILD. At 100 TB a rebuild must not block
    * readers, so the index root is versioned:
    * `idx-<v>/{centroids,store}` built completely offline, then
    * published by overwriting one small `_graft_ivf_current` pointer
    * file (the same atomic-PUT publish as the store marker — no
    * renames, object-store-native). Readers resolve the pointer once
    * and from then on touch only the resolved version's immutable
    * files; the previous version is retained one rebuild back (same
    * isolation window as BucketStore's manifests), older ones are
    * reclaimed.
    *
    * Returns the new version id. Maintainer handoff is the caller's:
    * stop the tick stream, rebuild, restart against the resolved
    * dirs (a tick mid-rebuild would land in the OLD version and be
    * lost at cutover).
    */
  private[graft] def rebuildIvfIndex(spark: SparkSession, vectors: DataFrame,
      indexRoot: String, nlist: Int = -1,
      beforePublish: () => Unit = () => ()): Long =
    publishIndexVersion(indexRoot, vDir => {
      // nlist ≤ 0 RE-derives from the GROWN corpus — the whole point
      // of a rebuild is that the index shape no longer fits the data,
      // and that includes the list count (the semantic-family
      // precedent); readers recover the new nlist from the published
      // version's centroid artifact (loadCentroids(..).size)
      val n = vectors.count()
      val nl = if (nlist > 0) nlist else deriveIvfNlist(n)
      val cents = trainQuantizer(spark, vectors, s"$vDir/centroids", nl, n)
      seedIvfStore(spark, vectors, s"$vDir/store", cents, nl)
    }, beforePublish)

  /** [[rebuildIvfIndex]] for the IVF+PQ family: re-trains BOTH frozen
    * quantizers on the current corpus and RE-ENCODES every posting
    * under the new codebooks — the re-encode a quantizer rebuild
    * REQUIRES (codes from the old codebooks are meaningless against
    * LUTs built from the new ones; an index that kept stale codes
    * would silently score garbage). Same fence / nonce'd version dir
    * / atomic pointer cutover / retention as the plain family;
    * resolve with [[resolveIvfPqIndex]].
    */
  private[graft] def rebuildIvfPqIndex(spark: SparkSession, vectors: DataFrame,
      indexRoot: String, nlist: Int = -1, m: Int = 16, ncent: Int = -1,
      beforePublish: () => Unit = () => ()): Long =
    publishIndexVersion(indexRoot, vDir => {
      // defaulted knobs re-derive from the GROWN corpus (one count
      // shared across both quantizers) — the rebuildIvfIndex contract
      val n = vectors.count()
      val nl = if (nlist > 0) nlist else deriveIvfNlist(n)
      val nc = if (ncent > 0) ncent else derivePqNcent(n)
      val cents = trainQuantizer(spark, vectors, s"$vDir/centroids", nl, n)
      val books = trainPqCodebooks(spark, vectors, m, nc)
      saveCodebooks(spark, books, s"$vDir/codebooks")
      seedIvfPqStore(spark, vectors, s"$vDir/store", cents, books, nl)
    }, beforePublish)

  /** Resolve the live IVF+PQ version's (storeDir, centroidsDir,
    * codebooksDir).
    */
  private[graft] def resolveIvfPqIndex(spark: SparkSession,
      indexRoot: String): (String, String, String) = {
    val (store, cents) = resolveIvfIndex(spark, indexRoot)
    (store, cents, store.stripSuffix("/store") + "/codebooks")
  }

  /** The versioned-root publish protocol shared by every rebuildable
    * index family here (IVF, IVF+PQ, semantic-dedup): `build` writes
    * a COMPLETE new version into the nonce'd dir it is handed, then
    * the fence check + one-small-file pointer overwrite publishes it
    * atomically; current + previous versions are retained, older
    * ones (and loser orphans) reclaimed. See [[rebuildIvfIndex]]'s
    * original commentary for the fence rationale. The pointer's I/O,
    * fence read and fence check are the BucketStore marker's.
    *
    * It stays a pointer rather than a BucketStore replace tick: a
    * version's centroids, codebooks and postings store must flip
    * together, and a store manifest names only its own bucket
    * generations, so a replace over the postings alone could not
    * publish the quantizer artifacts with them.
    */
  private def publishIndexVersion(indexRoot: String,
      build: String => Unit, beforePublish: () => Unit): Long = {
    import graft.streaming.BucketStore
    // fence: the BucketStore marker's loud-loser protocol on the
    // pointer file — a rebuild snapshots the raw pointer at entry and
    // requires it unchanged at publish, so of two concurrent rebuilds
    // (minutes of wall-clock each: the accident is easy to have)
    // exactly one cuts over and the other throws instead of
    // overwriting a version readers already resolved. And unlike a
    // bare version counter, the version DIR carries a per-build nonce
    // (the pointer names the dir): two racing rebuilds that both derive
    // v0+1 write DISJOINT directories, so even the eventual loser can
    // never scribble over the dir the winner's pointer serves — the
    // fence decides only the pointer, and the loser's orphan dir ages
    // out through retention. beforePublish is the spec's
    // fault-injection seam.
    val (v0, fence0) = BucketStore.markerSnapshot(indexRoot, IvfPointer)
    val v = v0 + 1L
    val dirName = s"idx-$v-${java.util.UUID.randomUUID().toString.take(8)}"
    build(s"$indexRoot/$dirName")
    beforePublish()
    BucketStore.checkFence(indexRoot, fence0, s"rebuild to $dirName",
      rival = "rebuild", file = IvfPointer)
    // the publish point: one small-file overwrite
    // (version \n fence-token \n dir-name)
    val (fs, root) = BucketStore.fsFor(indexRoot)
    BucketStore.writeSmall(fs, new org.apache.hadoop.fs.Path(root, IvfPointer),
      s"$v\n${java.util.UUID.randomUUID()}\n$dirName")
    // retention: current + previous version; older rebuilds (and any
    // loser orphans from two versions back) reclaimed
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("idx-") &&
          idxVersionOf(name).exists(_ < v - 1))
        fs.delete(st.getPath, true)
    }
    v
  }

  /** The version pointer under an index root: the version on line 1 and
    * a fence token on line 2 (the BucketStore marker's form), the live
    * version's dir name on line 3.
    */
  private val IvfPointer = "_graft_ivf_current"

  /** Version prefix of an index dir name: `idx-<v>` (legacy) or
    * `idx-<v>-<nonce>`.
    */
  private def idxVersionOf(name: String): Option[Long] =
    scala.util.Try(name.stripPrefix("idx-").takeWhile(_ != '-').toLong).toOption

  /** Resolve the live index version's (storeDir, centroidsDir);
    * fails loudly on a root with no published version. The pointer's
    * third line names the (nonce'd) dir; a legacy two-line pointer
    * falls back to the bare `idx-<v>` name.
    */
  private[graft] def resolveIvfIndex(spark: SparkSession, indexRoot: String): (String, String) = {
    val (v, raw) = graft.streaming.BucketStore.markerSnapshot(indexRoot, IvfPointer)
    require(v >= 0, s"no published IVF index under $indexRoot")
    val dirName = raw.flatMap(_.linesIterator.toSeq.lift(2).map(_.trim).filter(_.nonEmpty))
      .getOrElse(s"idx-$v")
    (s"$indexRoot/$dirName/store", s"$indexRoot/$dirName/centroids")
  }

  /** The IVF index LIFECYCLE as a registered query (`knn_ivf_store`) —
    * the ANN rung of the store ladder ([[graft.operators.Dedup]] has
    * the dedup one): quantizer trained on the base split and frozen
    * to a parquet artifact, base postings seeded into a cluster-
    * bucketed [[graft.streaming.BucketStore]], the held-out split
    * (`vec_id % 10 = 7`) appended as ONE tick through the generation
    * publish, and the queries answered from the READ-BACK index with
    * probe-pruned bucket reads. Rows-only (k-means is not SQL-
    * expressible); IvfStoreSpec gates search-result identity with a
    * one-shot index over the full corpus (same frozen quantizer) and
    * untouched-inverted-list byte-identity across the tick.
    */
  /** The recall-drift probe as a registered query (`knn_ivf_drift`):
    * the same persisted-index lifecycle as [[ivfStoreSearch]] — seed
    * the base split, append the held-out split as one tick under the
    * FROZEN quantizer — then measure what that tick did to recall:
    * [[ivfRecallProbe]] over a deterministic sample of the tick's own
    * vectors, exactly what [[graft.streaming.DocStream.startIvfMaintain]]
    * logs per tick to decide when [[rebuildIvfIndex]] runs. One row
    * (sampled_recall, n_queries, tripped); rows-only — k-means is not
    * SQL-expressible — with IvfStoreSpec gating the trip/restore
    * behavior on planted drift.
    *
    * Absolute recall on the synthetic embeddings table is dominated by
    * the nprobe/nlist scan fraction (the table is weakly clustered, so
    * ~0.5 at 2/8 is the index's steady state, not damage); the
    * operational signal is the DELTA across ticks under a frozen
    * quantizer — which is why the maintainer compares each tick's
    * reading against a configured floor rather than chasing a
    * universal constant.
    */
  def ivfDriftProbe(spark: SparkSession, sfDir: String, k: Int = 10,
      nlist0: Int = -1, nprobe0: Int = -1, threshold: Double = 0.9,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    import spark.implicits._
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest((sfDir + "#drift").getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val storeDir = s"$artifactDir/ivf_store_$digest"
    val centroidsDir = s"$artifactDir/ivf_centroids_$digest"
    val c = corpus(spark, sfDir).cache()
    val nlist = if (nlist0 > 0) nlist0 else deriveIvfNlist(c.count())
    val nprobe = if (nprobe0 > 0) nprobe0 else deriveIvfNprobe(nlist)
    val base = c.filter(col("vec_id") % 10 =!= 7).select("vec_id", "v", "norm")
    val delta = c.filter(col("vec_id") % 10 === 7).select("vec_id", "v", "norm")
    val cents = graft.PhaseTimer.timed("knn_ivf_drift", "train") {
      trainQuantizer(spark, base, centroidsDir, nlist)
    }
    graft.PhaseTimer.timed("knn_ivf_drift", "seed") {
      seedIvfStore(spark, base, storeDir, cents, nlist)
    }
    graft.PhaseTimer.timed("knn_ivf_drift", "tick") {
      ivfAppendTick(spark, storeDir, cents, delta, batchId = 0L, nlist = nlist)
    }
    val queries = delta.orderBy(md5(col("vec_id").cast("string"))).limit(8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val r = graft.PhaseTimer.timed("knn_ivf_drift", "probe") {
      ivfRecallProbe(spark, storeDir, cents, queries, k, nprobe, nlist, threshold)
    }
    c.unpersist()
    Seq((r.sampledRecall, r.nQueries, r.tripped))
      .toDF("sampled_recall", "n_queries", "tripped")
  }

  def ivfStoreSearch(spark: SparkSession, sfDir: String, nQueries: Int = 10,
      k: Int = 10, nlist0: Int = -1, nprobe0: Int = -1,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val storeDir = s"$artifactDir/ivf_store_$digest"
    val centroidsDir = s"$artifactDir/ivf_centroids_$digest"
    val c = corpus(spark, sfDir).cache()
    val nlist = if (nlist0 > 0) nlist0 else deriveIvfNlist(c.count())
    val nprobe = if (nprobe0 > 0) nprobe0 else deriveIvfNprobe(nlist)
    val base = c.filter(col("vec_id") % 10 =!= 7)
    val delta = c.filter(col("vec_id") % 10 === 7)
    val cents = graft.PhaseTimer.timed("knn_ivf_store", "train") {
      trainQuantizer(spark, base, centroidsDir, nlist)
    }
    graft.PhaseTimer.timed("knn_ivf_store", "seed") {
      seedIvfStore(spark, base.select(col("vec_id"), col("v"), col("norm")),
        storeDir, cents, nlist)
    }
    graft.PhaseTimer.timed("knn_ivf_store", "tick") {
      ivfAppendTick(spark, storeDir, loadCentroids(spark, centroidsDir),
        delta.select(col("vec_id"), col("v"), col("norm")), batchId = 0L, nlist = nlist)
    }
    val queries = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val out = searchIvfStore(spark, storeDir, cents, queries, k, nprobe, nlist)
    c.unpersist()
    out
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space, then prune
    * within clusters only — a vector is dropped when its cosine to a
    * LOWER-id vector in the same cluster reaches `threshold` (the
    * published implementation's keep-lowest-index rule, deterministic
    * here by id, the same keeper semantic as exact dedup).
    *
    * This covers the MODERATE-threshold regime the banded LSH
    * detectors cannot: hyperplane banding's collision probability
    * collapses well below cos ≈ 0.99, while semantic duplicates live
    * at 0.85–0.95 — clustering bounds the quadratic term instead
    * (Σ n_c² within-cluster pairs, never C(n,2) and never a band-key
    * blowup). At 100 TB: centroids train on a content-hash sample and
    * ride to every task as a literal (the IVF quantizer seam,
    * [[assignClusters]]), so assignment is map-side; the only shuffle
    * is the cluster-keyed pair join, and `nlist` scales with the
    * corpus (targeting ~1k vectors/cluster) to hold per-cluster work
    * flat. Cross-cluster duplicate pairs are missed by construction —
    * the published algorithm's documented recall trade (boundary
    * pairs straddle two clusters); the LSH family covers the
    * near-identical end of that gap.
    *
    * Output: one row per input vector — (vec_id, cluster, keep) — so
    * the decision audit rides with the verdicts, like
    * `q_quality_filter`'s first-fail column.
    */
  def semanticDedup(spark: SparkSession, sfDir: String, nPlant: Int = 50,
                    threshold: Double = 0.92, nlist: Int = -1): DataFrame = {
    val vecs = Dedup.plantedCorpus(spark, sfDir, nPlant)
      .select(col("vec_id"), col("embedding").as("v"))
    semanticDedupOn(spark, vecs, threshold, nlist)
  }

  /** Core on an injectable (vec_id, v) frame — spec entry. `nlist`
    * ≤ 0 derives from the corpus count ([[deriveSemanticNlist]] —
    * ~1k vectors/cluster, the Σ n_c² contract): the registered
    * default stays test-SF-sized at test SF and grows to the scale
    * run's hand-picked 256 at 200k vectors without operator
    * intervention.
    */
  private[graft] def semanticDedupOn(spark: SparkSession, vecs: DataFrame,
      threshold: Double, nlist0: Int): DataFrame = {
    val c = withVecNorm(spark, vecs)
    val n = c.count()
    val nlist = if (nlist0 > 0) nlist0 else deriveSemanticNlist(n)
    // quantizer trained on the same BOUNDED content-hash sample
    // regime as [[trainQuantizer]] ([[coarseTrainSample]]), fit
    // routed by [[fitCoarseCentroids]] (MLlib ≤ 256, Lloyd's above)
    val cents = fitCoarseCentroids(spark, coarseTrainSample(c, nlist, n), nlist)
    semanticVerdicts(assignClusters(c, cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster")), threshold)
  }

  private[graft] def withVecNorm(spark: SparkSession, vecs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    vecs.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
  }

  /** Keeper verdicts over an assigned (vec_id, v, norm, cluster)
    * frame: a vector is dropped when ANY lower-id vector in its
    * cluster — kept or not — reaches `threshold` cosine. One
    * cluster-keyed shuffle; per-cluster work is n_c², never C(n,2).
    */
  private[graft] def semanticVerdicts(assigned: DataFrame, threshold: Double): DataFrame = {
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"),
      col("v").as("va"), col("norm").as("na"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("norm").as("nb"))
    // 4-decimal-rounded cosine (the knnBrute determinism rule) so the
    // drop set cannot flip on float association order
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 4) >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("dropFlag", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        not(coalesce(col("dropFlag"), lit(false))).as("keep"))
  }

  // ----- semantic dedup: incremental / store / continuous ----------

  /** Seed the semantic-dedup store: train the quantizer on the base
    * corpus (persisted to `centroidsDir` — FROZEN for every later
    * tick, the IVF practice), assign, compute base verdicts, and
    * persist EVERY base vector (verdict included) into a
    * cluster-bucketed [[graft.streaming.BucketStore]]. The store
    * holds dropped vectors too: the keeper rule matches against any
    * lower-id vector regardless of its own verdict, so parity with
    * the batch operator needs the full seen set, not just keepers.
    * Returns the base verdicts (vec_id, cluster, keep).
    */
  private[graft] def seedSemanticStore(spark: SparkSession, vecs: DataFrame,
      storeDir: String, centroidsDir: String, threshold: Double,
      nlist: Int): DataFrame = {
    val c = withVecNorm(spark, vecs)
    val cents = trainQuantizer(spark, c, centroidsDir, nlist)
    val assigned = assignClusters(c, cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster"))
    val verdicts = semanticVerdicts(assigned, threshold)
    graft.streaming.BucketStore.seed(
      assigned.join(verdicts.select(col("vec_id"), col("keep")), Seq("vec_id")),
      graft.streaming.BucketStore.longBucket(col("cluster"), nlist),
      storeDir, nlist)
    verdicts
  }

  /** One semantic-dedup tick: assign the delta map-side under the
    * frozen quantizer, read ONLY the touched clusters' store buckets
    * (bucket pruning — the landed corpus never re-pairs), drop a
    * delta vector whose cosine to any lower-id vector (stored, or
    * earlier in this delta) in its cluster reaches `threshold`, and
    * append the delta rows (verdicts included) through the
    * generation-publish protocol. Arrival-order keeper semantic: a
    * stored vector is never retroactively dropped by a later
    * lower-id arrival — with id-ordered ingest (the registered
    * query's split) this is EXACTLY the batch rule, spec-pinned.
    * Returns the delta verdicts (vec_id, cluster, keep).
    *
    * `verdictsDir`, when set, lands the tick's verdicts at
    * `verdictsDir/batch=<id>` BEFORE the store publishes — the pair-
    * log ordering of [[graft.operators.Dedup.nearDupStoreTick]]: the
    * marker is the LAST thing a tick moves, so "marker advanced" ⇒
    * the verdicts landed too. A crash in between re-runs the tick on
    * replay and the overwrite rewrites identical content (the log is
    * idempotent); the inverse order (append after publish) would let
    * a crash in the window permanently lose a batch's verdicts — the
    * redelivery is skipped by the applied-batch guard.
    */
  private[graft] def semanticDedupTick(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], delta: DataFrame, threshold: Double,
      nlist: Int, batchId: Long, verdictsDir: Option[String] = None): DataFrame = {
    import graft.streaming.BucketStore
    val d = assignClusters(withVecNorm(spark, delta), cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster")).cache()
    try {
      val touched = BucketStore.touchedBuckets(
        d.select(BucketStore.longBucket(col("cluster"), nlist).as(BucketStore.BucketCol)))
      val stored = BucketStore.readBuckets(spark, storeDir, touched, nlist)
        .select(col("cluster"), col("vec_id").as("id_a"),
          col("v").as("va"), col("norm").as("na"))
      val candidates = stored.unionByName(
        d.select(col("cluster"), col("vec_id").as("id_a"),
          col("v").as("va"), col("norm").as("na")))
      val probe = d.select(col("cluster"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("norm").as("nb"))
      val dropped = candidates.join(probe, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 4) >= threshold)
        .select(col("id_b").as("vec_id")).distinct()
      // delta-sized; materialized eagerly so the returned frame never
      // lazily re-reads pre-tick store generations (the gc hazard) —
      // released by the caller's session-wide clearCache, the
      // flagContaminatedFuzzyOf convention
      val verdicts = d.select(col("vec_id"), col("cluster"))
        .join(dropped.withColumn("dropFlag", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          not(coalesce(col("dropFlag"), lit(false))).as("keep"))
        .cache()
      verdicts.count()
      verdictsDir.foreach(dir =>
        verdicts.write.mode("overwrite").parquet(s"$dir/batch=$batchId"))
      // new vec_ids by the append-only ingest contract → the delta
      // stacks as one generation with zero carry-over reads (tick
      // write I/O ∝ delta, not the touched clusters' store size)
      BucketStore.applyAppendTick(spark, storeDir,
        d.join(verdicts.select(col("vec_id"), col("keep")), Seq("vec_id"))
          .withColumn(BucketStore.BucketCol,
            BucketStore.longBucket(col("cluster"), nlist)),
        batchId = batchId, n = nlist)
      verdicts
    } finally { d.unpersist(); () }
  }

  /** CDC tick for the semantic-dedup store — the delete/re-ingest
    * seam every other store family has (r13 verdict task #2; the
    * family where a dead row actively corrupts FUTURE verdicts: the
    * keeper rule drops a new arrival against ANY stored lower-id
    * vector, so a tombstoned-but-present keeper wrongly suppresses a
    * live re-ingest forever). Feed convention = [[ivfAppendTick]]'s
    * (the store's nearest cousin — same vector payload, same
    * cluster-bucketed layout): op ∈ 'upsert'|'delete' with ONE
    * embedding column; a 'delete' row must carry the INDEXED
    * (before-image) embedding — the store is bucketed by cluster,
    * not id, so the only way to name a delete's bucket without a
    * full scan is re-deriving its cluster map-side under the frozen
    * quantizer; a re-embed is delete(old image) + upsert(new image)
    * in one batch (the upsert's keyed merge wins on collision).
    *
    * Upserted vectors are verdict-ed against the POST-delete view:
    * tombstoned ids are anti-joined out of the candidate side, so a
    * same-batch-deleted keeper can never suppress its own
    * re-ingest. Stored verdicts of OTHER rows are point-in-time
    * decisions and are NOT rewritten (a keeper's death does not
    * retroactively resurrect the copies it dropped while live — that
    * re-evaluation is [[rebuildSemanticIndex]]'s job); what CDC
    * fixes is membership and every verdict from this tick on.
    * Deletes must pull rows OUT of cluster buckets, so CDC batches
    * pay `applyTick`'s touched-bucket merge — pure-insert batches
    * stay on [[semanticDedupTick]]'s O(delta) append path.
    * Returns the upserts' verdicts (vec_id, cluster, keep).
    */
  private[graft] def semanticDedupCdcTick(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], cdc: DataFrame, threshold: Double,
      nlist: Int, batchId: Long, verdictsDir: Option[String] = None): DataFrame = {
    import graft.streaming.BucketStore
    val gone = assignClusters(
        withVecNorm(spark, cdc.filter(col("op") === "delete")
          .select(col("vec_id"), col("v"))), cents)
      .select(col("vec_id"),
        BucketStore.longBucket(col("cluster"), nlist).as(BucketStore.BucketCol))
      .cache()
    val d = assignClusters(
        withVecNorm(spark, cdc.filter(col("op") === "upsert")
          .select(col("vec_id"), col("v"))), cents)
      .select(col("vec_id"), col("v"), col("norm"), col("cluster")).cache()
    try {
      gone.count() // materialize before any store mutation (gc hazard)
      val touched = BucketStore.touchedBuckets(
        d.select(BucketStore.longBucket(col("cluster"), nlist).as(BucketStore.BucketCol)))
      // candidate side = stored rows of the touched clusters MINUS this
      // batch's tombstones (and minus the upserted ids' own old images —
      // the new image replaces them) ∪ the delta itself
      val stored = BucketStore.readBuckets(spark, storeDir, touched, nlist)
        .join(gone.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .join(d.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .select(col("cluster"), col("vec_id").as("id_a"),
          col("v").as("va"), col("norm").as("na"))
      val candidates = stored.unionByName(
        d.select(col("cluster"), col("vec_id").as("id_a"),
          col("v").as("va"), col("norm").as("na")))
      val probe = d.select(col("cluster"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("norm").as("nb"))
      val dropped = candidates.join(probe, Seq("cluster"))
        .filter(col("id_a") < col("id_b"))
        .filter(round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 4) >= threshold)
        .select(col("id_b").as("vec_id")).distinct()
      val verdicts = d.select(col("vec_id"), col("cluster"))
        .join(dropped.withColumn("dropFlag", lit(true)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          not(coalesce(col("dropFlag"), lit(false))).as("keep"))
        .cache()
      verdicts.count()
      verdictsDir.foreach(dir =>
        verdicts.write.mode("overwrite").parquet(s"$dir/batch=$batchId"))
      BucketStore.applyTick(spark, storeDir,
        d.join(verdicts.select(col("vec_id"), col("keep")), Seq("vec_id"))
          .withColumn(BucketStore.BucketCol,
            BucketStore.longBucket(col("cluster"), nlist)),
        Seq("vec_id"), batchId = batchId, n = nlist,
        removed = Some(gone))
      verdicts
    } finally { d.unpersist(); gone.unpersist(); () }
  }

  /** Registered `dedup_semantic_store`: the store rung — seed the
    * first `baseFrac` of the planted corpus (id-ordered split, the
    * [[graft.operators.TextAnalysis.lineDedupStore]] convention),
    * tick the remainder through the persisted store, return seed ∪
    * tick verdicts. Same planted-recall contract as the batch query;
    * SemanticStoreSpec pins verdict parity with the batch operator
    * under the seed's frozen centroids.
    */
  def semanticDedupStore(spark: SparkSession, sfDir: String, nPlant: Int = 50,
      threshold: Double = 0.92, nlist: Int = -1, baseFrac: Double = 0.8,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val vecs = Dedup.plantedCorpus(spark, sfDir, nPlant)
      .select(col("vec_id"), col("embedding").as("v"))
    val cut = vecs.agg(
      floor(count(lit(1)) * baseFrac).cast("long").as("cut"))
    val all = vecs.crossJoin(broadcast(cut))
    val base = all.filter(col("vec_id") < col("cut")).select(col("vec_id"), col("v"))
    val delta = all.filter(col("vec_id") >= col("cut")).select(col("vec_id"), col("v"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val storeDir = s"$artifactDir/semdedup_store_$runId"
    val centroidsDir = s"$artifactDir/semdedup_cents_$runId"
    // nlist ≤ 0 derives from the BASE count — the seed freezes it
    // into the store's bucket count, and every later tick recovers it
    // as loadCentroids(..).size (the quantizer artifact IS the bucket
    // contract), never re-derives from a grown corpus
    val nl = if (nlist > 0) nlist else deriveSemanticNlist(base.count())
    val seedVerdicts = graft.PhaseTimer.timed("dedup_semantic_store", "seed") {
      seedSemanticStore(spark, base, storeDir, centroidsDir, threshold, nl)
    }
    val cents = loadCentroids(spark, centroidsDir)
    val tickVerdicts = graft.PhaseTimer.timed("dedup_semantic_store", "tick") {
      semanticDedupTick(spark, storeDir,
        cents, delta, threshold, cents.size, batchId = 0L)
    }
    seedVerdicts.unionByName(tickVerdicts)
  }

  /** Registered `dedup_semantic_cdc` — [[semanticDedupCdcTick]]
    * exercised end-to-end on the planted corpus: seed the store from
    * the full planted corpus (originals + their cos≈0.999 copies, the
    * copies dropped by the keeper rule), then apply ONE CDC batch
    * that deletes every fifth planted original AND its live copy
    * (both before-images from the corpus — the redaction shape: all
    * instances of a document family go), and re-ingests the deleted
    * content under fresh ids. Pre-CDC, those re-ingests would be
    * dropped by the dead keeper; post-CDC they must verdict
    * keep=true — the exact hazard the seam closes. Returns the tick
    * verdicts. Rows-only (k-means keeper geometry has no SQL form);
    * NearDupStoreSpec pins the store-membership parity, the
    * dead-keeper-no-suppress rule, and replay no-op.
    */
  def semanticDedupCdc(spark: SparkSession, sfDir: String, nPlant: Int = 50,
      threshold: Double = 0.92,
      artifactDir: String = "target/graft-artifacts"): DataFrame = {
    val vecs = Dedup.plantedCorpus(spark, sfDir, nPlant)
      .select(col("vec_id"), col("embedding").as("v"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val storeDir = s"$artifactDir/semdedup_cdc_$runId/store"
    val centroidsDir = s"$artifactDir/semdedup_cdc_$runId/cents"
    val nl = deriveSemanticNlist(vecs.count())
    graft.PhaseTimer.timed("dedup_semantic_cdc", "seed") {
      seedSemanticStore(spark, vecs, storeDir, centroidsDir, threshold, nl)
    }
    val cents = loadCentroids(spark, centroidsDir)
    // delete a planted family (original + its live near-copy), carrying
    // the indexed before-images; re-ingest the original's content new
    val fam = vecs.filter(col("vec_id") < nPlant && col("vec_id") % 5 === 0)
    val dels = fam.select(lit("delete").as("op"), col("vec_id"), col("v"))
      .unionByName(vecs.join(
          fam.select((col("vec_id") + 1000000L).as("vec_id")), Seq("vec_id"))
        .select(lit("delete").as("op"), col("vec_id"), col("v")))
    val ups = fam.select(lit("upsert").as("op"),
      (col("vec_id") + 2000000L).as("vec_id"), col("v"))
    graft.PhaseTimer.timed("dedup_semantic_cdc", "tick") {
      semanticDedupCdcTick(spark, storeDir, cents, dels.unionByName(ups),
        threshold, cents.size, batchId = 1L)
    }
  }

  // ----- semantic dedup: quantizer-drift probe + versioned rebuild --

  /** One keeper-recall probe measurement for the semantic store. */
  case class SemanticProbeResult(keeperRecall: Double, nQueries: Int,
      tripped: Boolean) {
    override def toString: String =
      f"semanticProbe[keeperRecall=$keeperRecall%.3f queries=$nQueries tripped=$tripped]"
  }

  /** Keeper-recall drift probe for the semantic store's FROZEN
    * quantizer — the gap the IVF family closed with [[ivfRecallProbe]]
    * and this family lacked: distribution shift against frozen
    * centroids silently splits true duplicate pairs across cluster
    * boundaries, and the cluster-bounded pair join then KEEPS both
    * copies with no signal anywhere. The probe measures exactly that
    * miss channel: for each probe query (a sampled tick vector), does
    * any LOWER-id stored vector reach `threshold` cosine (a true
    * duplicate the keeper rule should have dropped it for), and if
    * so, does at least one such duplicate share the query's assigned
    * cluster (the only ones [[semanticVerdicts]] can see)?
    * keeperRecall = same-cluster-covered queries / queries with any
    * qualifying duplicate; queries with no over-threshold neighbor
    * contribute NO evidence, and an empty evidence set reports 1.0
    * untripped (the [[ivfRecallProbe]] convention).
    *
    * Cost: one store scan broadcast-joined against the tiny query
    * sample — no bucket reads, no window. At 100 TB hash-gate the
    * truth side with `corpusFraction` (uniform-subcorpus recall is an
    * unbiased drift signal) and probe every N ticks
    * ([[SemanticProbeConfig]]).
    */
  private[graft] def semanticDriftProbe(spark: SparkSession, storeDir: String,
      cents: Seq[(Int, Seq[Double])], queries: DataFrame, threshold: Double,
      floor: Double, corpusFraction: Double = 1.0): SemanticProbeResult = {
    graft.functions.VectorFunctions.register(spark)
    val all = graft.streaming.BucketStore.readAll(spark, storeDir)
    val stored =
      if (corpusFraction >= 1.0) all
      else {
        val gate = f"${(corpusFraction * 256).toInt}%02x"
        all.filter(substring(md5(col("vec_id").cast("string")), 1, 2) < lit(gate))
      }
    val q = assignClusters(withVecNorm(spark, queries), cents)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("norm").as("qnorm"), col("cluster").as("qcluster"))
    // qualifying duplicates: lower-id stored vectors at >= threshold
    // cosine; hit = any of them in the query's own cluster
    val perQuery = stored.join(broadcast(q), col("vec_id") < col("qid"))
      .withColumn("cos",
        round(expr("graft_dot(v, qv)") / (col("norm") * col("qnorm")), 4))
      .filter(col("cos") >= threshold)
      .groupBy(col("qid"))
      .agg(max(when(col("cluster") === col("qcluster"), 1).otherwise(0)).as("hit"))
    val agg = perQuery.agg(
      avg(col("hit").cast("double")).as("recall"),
      count(lit(1)).as("nq")).collect()(0)
    val recall = if (agg.isNullAt(0)) 1.0 else agg.getDouble(0)
    SemanticProbeResult(recall, agg.getLong(1).toInt, tripped = recall < floor)
  }

  /** Probe policy for
    * [[graft.streaming.DocStream.startSemanticDedupMaintain]] — the
    * [[IvfProbeConfig]] shape: every `everyNTicks` ticks, `sample`
    * hash-chosen vectors of the tick become probe queries (fresh data
    * is where frozen-quantizer drift shows first), keeper recall is
    * measured and logged with the tick stats; a reading below `floor`
    * fires `onDrift` — the operator's signal to stop the maintainer,
    * run [[rebuildSemanticIndex]] (versioned-root cutover, readers
    * never block), and restart against the resolved dirs.
    */
  case class SemanticProbeConfig(sample: Int = 8, floor: Double = 0.9,
      everyNTicks: Int = 1, corpusFraction: Double = 1.0,
      onDrift: (Long, SemanticProbeResult) => Unit = (_, _) => ())

  /** Versioned REBUILD for the semantic-dedup store — what the drift
    * probe's `onDrift` schedules: re-train the quantizer on the full
    * corpus handed in (typically the landed store rows ∪ backlog),
    * recompute every verdict batch-style (id order = arrival order —
    * a rebuild is allowed to revisit old keep decisions, that is its
    * point), seed a complete new `idx-<v>/{centroids,store}` version,
    * and cut over with the shared fence/pointer protocol
    * ([[rebuildIvfIndex]]'s — resolve with [[resolveIvfIndex]]).
    * `nlist` ≤ 0 re-derives from the CURRENT corpus count — the
    * rebuild is exactly where the Σ n_c² contract gets re-trued as
    * the corpus grows.
    */
  private[graft] def rebuildSemanticIndex(spark: SparkSession, vectors: DataFrame,
      indexRoot: String, threshold: Double, nlist: Int = -1,
      beforePublish: () => Unit = () => ()): Long =
    publishIndexVersion(indexRoot, vDir => {
      val nl = if (nlist > 0) nlist else deriveSemanticNlist(vectors.count())
      seedSemanticStore(spark, vectors, s"$vDir/store", s"$vDir/centroids",
        threshold, nl)
      ()
    }, beforePublish)
}
