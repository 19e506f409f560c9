package graft

import graft.operators.{Analytics, Hints, ItemCF, Relational}
import org.scalatest.funsuite.AnyFunSuite

/** Regression guards for the PLAN properties that make these operators
  * scale — a query can stay value-correct while silently losing its
  * pushdown or broadcast, so correctness tests alone won't catch it.
  */
class PlanShapeSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q3: the segment filter is pushed into the customer parquet scan") {
    val p = plan(Analytics.q3Join(spark, sf))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("q1: scan reads only the five referenced lineitem columns") {
    val p = plan(Analytics.q1Agg(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey") && !read.contains("l_shipdate"), read)
    assert(read.contains("l_quantity") && read.contains("l_returnflag"), read)
  }

  test("events-props: one schema'd from_json parse, no per-attribute get_json_object") {
    val df = Analytics.eventsProps(spark, sf)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("from_json"), analyzed)
    assert(!analyzed.contains("get_json_object"), analyzed)
    // exactly one parse of the document per row
    assert(analyzed.linesIterator.count(_.contains("from_json")) === 1, analyzed)
  }

  test("top-movies: global top-N plans as TakeOrderedAndProject, not a full sort") {
    val p = plan(Relational.topMovies(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("movie-stats: partial aggregation runs before the shuffle") {
    val p = plan(Relational.movieStats(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_avg"), p)
  }

  test("fallback recs: the seen-items exclusion is a broadcast anti join") {
    val p = plan(Relational.recsFallback(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("EqualTo(o_custkey,1)"), p) // user filter reached the scan
  }

  test("item-CF pair join runs over the degree-capped working set") {
    // the golden property from the round-1 verdict: the self-join's
    // inputs must pass through the cap window (deg_rn <= 128) so pair
    // count is bounded by cap × rows, and the norms join sides stay
    // broadcast. Losing either silently reverts to O(Σ deg²).
    val p = plan(ItemCF.itemSimilarity(spark, sf))
    assert(p.contains("deg_rn"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    // cap filter present with the default bound
    assert(p.contains(s"<= ${ItemCF.DefaultMaxDegree}") ||
      p.contains(s"(deg_rn#") , p.take(4000))
  }

  test("recs-serve: fallback pool joins broadcast; pad never shuffles the fact") {
    val p = plan(graft.operators.Serving.recsServe(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(4000))
    assert(p.contains("LeftAnti"), p.take(4000))
  }

  test("corpus-prep: both gates filter BEFORE the dedup window shuffle") {
    // the whole design is that quality + sample gates are map-side:
    // in the executed plan the Filter containing the gates must sit
    // below (= appear after, in toString order) the one exchange, and
    // there must be exactly one shuffle (the dedup window)
    val p = plan(graft.operators.CorpusPrep.prep(spark, sf))
    val allExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(allExchanges === 1, s"expected 1 shuffle, got $allExchanges\n" + p.take(4000))
    // the gate filter must be on the scan side of the exchange: the
    // substring after the Exchange line must contain the n_tokens gate
    val afterExchange = p.substring(p.indexOf("Exchange hashpartitioning"))
    assert(afterExchange.contains(">= 10") || afterExchange.contains("size("),
      afterExchange.take(2000))
  }

  test("cooc-increment: the profile lookup is a broadcast semi join") {
    import org.apache.spark.sql.functions._
    val base = Tables.interactions(spark, sf).select(col("user_id"), col("item_id"))
    val cooc = ItemCF.cooccurrence(spark, sf, minUsers = 1)
    val p = plan(ItemCF.coocIncrement(base, cooc, base.limit(10)))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(4000))
  }

  test("decontaminate: eval grams broadcast — corpus side never shuffles on the gram key") {
    val p = plan(graft.operators.Decontamination.flagContaminated(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    // the only hash exchanges allowed: the eval-side distinct and the
    // per-doc aggregate — never one keyed on the corpus gram column
    val gramShuffles = p.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(gram"))
    assert(gramShuffles <= 1, s"corpus gram-key shuffle crept in\n" + p.take(4000))
  }

  test("seq-pack: one bucket-keyed window shuffle, no global sort before it") {
    val p = plan(graft.operators.SeqPack.pack(spark, sf))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 bucket shuffle, got $exchanges\n" + p.take(4000))
    assert(p.contains("hashpartitioning(bucket"), p.take(4000))
  }

  test("ivf store search: rank is the packed-key heap — no window left in the ANN family") {
    // searchIvfStore was the last ANN rank site on a per-query window
    // (it carries `cluster`, which the (score, id) heap has no slot
    // for — solved by packing (vec_id << 16 | cluster) into the heap
    // id). A window here sorts the whole probed set in one task per
    // query; the heap ships ≤ k rows per query per map partition.
    val p = plan(graft.operators.Similarity.ivfStoreSearch(spark, sf,
      artifactDir = java.nio.file.Files.createTempDirectory("planshape_ivf").toString))
    assert(p.contains("partial_graft_topk"), p.take(4000))
    assert(!p.contains("Window"), "window sort crept back into searchIvfStore\n" + p.take(4000))
  }

  test("recommend: top-N is the partial-aggregating heap, not a window sort") {
    // partial_graft_topk below the exchange = map-side combine ships
    // ≤ N rows per user per partition (the degree-cap window's
    // row_number elsewhere in the plan is expected)
    val p = plan(ItemCF.recommend(spark, sf))
    assert(p.contains("partial_graft_topk"), p.take(4000))
  }

  test("interval join: binned to an equi join — no nested-loop/cartesian plan") {
    val p = plan(Analytics.intervalJoin(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range predicate degenerated to a cross product\n" + p.take(4000))
    assert(p.contains("bucket"), p.take(2000))
  }

  test("paged top movies: page carved from TakeOrderedAndProject, no full-table sort") {
    // the skip/count page must ride the same top-(skip+count) merge as
    // the unpaged listing — a global window over the UN-limited
    // aggregate would be a single-partition sort of every item
    val p = plan(Relational.topMoviesPaged(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("bloom decontamination: the might_contain prefilter survives optimization") {
    // the entire point of the bloom path is that corpus grams drop
    // map-side BEFORE the verify join; if an edit (or an optimizer
    // change) drops the probe, the query silently degrades to the
    // exact plan and the scale story is gone — same regression mode
    // the embed-cosine gate pin guards against
    val p = plan(graft.operators.Decontamination.flagContaminatedBloom(spark, sf))
    assert(p.contains("might_contain"), p.take(3000))
  }

  test("embed-cosine audit: the BNLJ sits above the budget gate, never the full corpus") {
    // the registered exact-cosine audit is the ONLY all-pairs join in
    // the library; it is allowed to exist solely because its inputs
    // pass the fixed-budget md5 gate first. A future edit that drops
    // the gate silently re-registers an O(n²)-in-corpus plan — this
    // pin makes that a test failure, not a 100 TB incident.
    // pin on the OPTIMIZED LOGICAL plan (the physical BNLJ hides under
    // AdaptiveSparkPlanExec pre-execution): every non-equi join — the
    // joins that physically become BNLJ — must either BE the gate
    // (Catalyst inlines the budget filter as the scalar-count cross
    // join's condition) or have both inputs already gated, so the
    // vec_a < vec_b pair join can only ever see gated rows
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.operators.Dedup.embedCosineGated(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    def isGate(s: String) = s.contains("md5") && s.contains("conv")
    val nonEqui = joins.filter(j =>
      !j.condition.exists(_.toString.contains(" = ")) ||
        j.condition.isEmpty)
    assert(nonEqui.nonEmpty, "expected the audit's all-pairs non-equi join\n" +
      df.queryExecution.optimizedPlan.toString.take(4000))
    nonEqui.foreach { j =>
      val selfGated = j.condition.exists(c => isGate(c.toString))
      val sidesGated = Seq(j.left, j.right).forall(side => isGate(side.toString))
      assert(selfGated || sidesGated,
        "ungated all-pairs join:\n" + j.toString.take(3000))
    }
  }

  test("bucketed layout: the interactions join is shuffle-free, only the upsert exchanges") {
    // SURVEY §4's 100 TB layout claim, proven on the registered build:
    // orders and lineitem bucketed on their orderkeys join with ZERO
    // exchanges — the only shuffle left in the whole interactions
    // pipeline is the (user_id, item_id) upsert window
    import graft.sources.Sinks
    Seq("b_orders_ok", "b_lineitem_ok").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    Sinks.writeBucketed(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_orderdate"),
      "b_orders_ok", "o_orderkey")
    Sinks.writeBucketed(
      Tables.lineitem(spark, sf)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"),
      "b_lineitem_ok", "l_orderkey")
    // force a non-broadcast join: at test scale the planner would
    // broadcast (also shuffle-free, but then bucketing proves nothing)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = Tables.interactionsFrom(
        spark.table("b_orders_ok"), spark.table("b_lineitem_ok"))
      val p = plan(df)
      val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.size === 1,
        s"expected only the upsert-window exchange, got ${exchanges.size}:\n" + p.take(4000))
      assert(exchanges.head.contains("user_id") && exchanges.head.contains("item_id"),
        "the surviving exchange is not the upsert window:\n" + exchanges.head)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey") &&
        !p.contains("Exchange hashpartitioning(o_orderkey"),
        "join shuffled on orderkey despite the bucketed layout\n" + p.take(4000))
      // and the bucketed build produces the same interactions
      assert(df.count() === Tables.interactions(spark, sf).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE b_orders_ok"); spark.sql("DROP TABLE b_lineitem_ok")
  }

  test("skew join: the salt reaches the shuffle key") {
    // the whole mitigation is that the exchange partitions on
    // (hot_key, __salt) — if an edit drops the salt from the join key
    // the query stays value-correct while the hot key re-collapses
    // onto one task
    val p = plan(graft.operators.Skew.saltedJoinDemo(spark, sf))
    assert(p.contains("__salt"), p.take(3000))
    val saltedExchange = p.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("__salt"))
    val saltedBroadcastKey = p.contains("BroadcastHashJoin") &&
      p.linesIterator.exists(l => l.contains("BroadcastHashJoin") && l.contains("__salt"))
    assert(saltedExchange || saltedBroadcastKey,
      "salt never reached a join/shuffle key\n" + p.take(3000))
  }

  test("bucketed store: the pruned read scans only the selected buckets' files") {
    // the whole O(delta)-I/O claim rests on the touched-bucket read
    // PRUNING — an edit that re-reads the full store every tick stays
    // value-correct on small stores, so pin the scanned file set: the
    // manifest-resolved read must list ONLY the selected bucket's
    // generation files
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bucket_prune").toString + "/store"
    graft.streaming.BucketStore.seed(
      Seq((1L, 1L), (2L, 2L), (66L, 3L)).toDF("k", "v"),
      graft.streaming.BucketStore.longBucket(org.apache.spark.sql.functions.col("k"), 64), dir, n = 64)
    val pruned = graft.streaming.BucketStore.readBuckets(spark, dir, Seq(2), n = 64)
    val files = pruned.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/bucket=2/")),
      "pruned read scanned outside bucket 2:\n" + files.mkString("\n"))
    // keys 2 and 66 share bucket 2 (pmod 64); key 1 lives elsewhere
    assert(pruned.collect().map(_.getLong(0)).toSet === Set(2L, 66L))
  }

  test("incremental ticks: the delta gate survives into every tick plan") {
    // each ingest tick is O(delta × colliding postings) ONLY because
    // one join side filters to doc ids past the in-plan cut; an
    // edit that drops the gate stays value-correct on the identity
    // specs' small corpora while silently re-registering an
    // O(corpus²) candidate join — the same regression mode the
    // embed-cosine budget-gate pin guards against. (The banded
    // ladder rungs have no in-plan cut: their tick's probe side is
    // built from the batch rows alone — see Dedup.nearDupStoreTick.)
    val p = plan(graft.operators.Dedup.ngramJaccardIncremental(spark, sf))
    assert(p.contains(">= cut#"), "ngram tick lost its delta gate\n" + p.take(3000))
    spark.catalog.clearCache()
  }

  test("ngram top-k: global top-k is TakeOrdered over a partial-agged gram count") {
    val p = plan(graft.operators.TextAnalysis.ngramTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(p.contains("partial_count") || p.contains("partial count"), p.take(3000))
  }

  test("quality filter is map-only: zero exchanges in the executed plan") {
    val p = plan(graft.operators.TextAnalysis.qualityFilter(spark, sf))
    assert(!p.contains("Exchange"), p.take(3000))
  }

  test("line dedup: the boilerplate set joins as a broadcast under the size gate") {
    import spark.implicits._
    // non-empty boiler set (two docs share a line): the collected
    // local relation must enter the lines join as a BROADCAST build
    // side — never a shuffle of the exploded corpus
    val docs = Seq(
      1L -> "keep one\nfollow us on social media\nkeep two",
      2L -> "different body\nfollow us on social media",
      3L -> "unique only").toDF("doc_id", "text")
    val p = plan(graft.operators.TextAnalysis.lineDedupOf(docs))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))

    // EMPTY boiler set (the sf gate corpus has no cross-doc line):
    // since the set rides in as a local relation, Catalyst now folds
    // the join away entirely — the scrub with nothing to scrub is one
    // map-side reassembly, zero joins (an optimization the old cached
    // build side hid from the optimizer)
    val pEmpty = plan(graft.operators.TextAnalysis.lineDedup(spark, sf))
    assert(!pEmpty.contains("Join"), pEmpty.take(3000))
    spark.catalog.clearCache()
  }

  test("fuzzy decontamination: the eval band index probes as a broadcast") {
    val p = plan(graft.operators.Decontamination.flagContaminatedFuzzy(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    spark.catalog.clearCache()
  }

  test("bpe encode is one scan, zero exchanges") {
    // the SURVEY contract: encoding is map-side (broadcast ranks,
    // per-word segmentation), so the plan must contain no shuffle
    val ranks = graft.operators.Bpe.learnMerges(
      Seq(("low", 5L), ("newest", 6L)), 6).zipWithIndex
      .map { case ((l, r, _), i) => (l, r) -> i }.toMap
    val p = plan(graft.operators.Bpe.bpeEncodeOf(spark,
      Tables.documents(spark, sf), ranks))
    assert(!p.contains("Exchange"), p.take(3000))
  }

  test("substring dedup: no cartesian product; pair join keys on the 64-bit hash") {
    val df = graft.operators.Dedup.substringDedup(spark, sf)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p.take(3000))
    // the pair join keys on the 64-bit window hash, never the string
    // (the hash lives in an aggregate's result projection, which the
    // executed plan's toString elides — check the analyzed plan).
    // r14: the hash is graft_hash_arr (the per-window xxhash64 fused
    // map-side with the per-doc distinct — no window string ever
    // reaches an exchange)
    assert(df.queryExecution.analyzed.toString.contains("graft_hash_arr"))
  }

  test("substring dedup: hot-window anti-join size-gates — broadcast under the cap, shuffled past it, identical rows") {
    import spark.implicits._
    // fixture: one 8-token window shared by ALL docs (df 30 > dfCap 10
    // → the hot list is non-empty, so the anti-join survives
    // optimization) plus a 9-token run shared by docs 0 and 1 only —
    // the windows sliding across the 17-token common prefix give the
    // pair 9 surviving shared windows (starts 1..9; start 0 is hot)
    val docs = (0 until 30).map { i =>
      val shared = if (i < 2) " p1 p2 p3 p4 p5 p6 p7 p8 p9" else ""
      (i.toLong, s"c1 c2 c3 c4 c5 c6 c7 c8$shared u$i v$i w$i x$i y$i z$i t$i s$i")
    }.toDF("doc_id", "text")
    def run(gate: Long) = graft.operators.Dedup.substringDedupOf(
      docs, k = 8, minShared = 2, dfCap = 10, hotMaxRows = gate)
    def antiLine(p: String) = p.linesIterator.find(_.contains("LeftAnti"))
      .getOrElse(fail(s"no LeftAnti join in plan:\n${p.take(3000)}"))
    val under = run(Hints.DeltaBroadcastMaxRows)
    // under the gate: the collected hot list broadcasts (local relation)
    assert(antiLine(plan(under)).contains("Broadcast"), antiLine(plan(under)))
    // past it the operator leaves the join UNHINTED — the optimizer
    // decides. With auto-broadcast off (the 100 TB situation: a hot
    // list past the size estimate), the plan degrades to a shuffled
    // anti-join instead of an OOM.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val over = run(0L)
      assert(!antiLine(plan(over)).contains("Broadcast"), antiLine(plan(over)))
      // both regimes produce the identical pair set
      val a = under.collect().map(_.toSeq).toSet
      val b = over.collect().map(_.toSeq).toSet
      assert(a === b && a === Set(Seq(0L, 1L, 9L)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("pq coarse stage carries only the score triple through the rank shuffle") {
    // the On-core keeps the lazy plan (the registered knnPq eagerly
    // materializes + caches its tiny result, hiding the plan behind an
    // InMemoryRelation)
    graft.functions.VectorFunctions.register(spark)
    val c = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", org.apache.spark.sql.functions.sqrt(
        org.apache.spark.sql.functions.expr("graft_dot(v, v)")))
    val books = graft.operators.Similarity.trainPqCodebooks(spark, c, 16, 32)
    val df = graft.operators.Similarity.knnPqOn(spark, c, books,
      nQueries = 3, k = 5, m = 16, ncent = 32, oversample = 8)
    val p = plan(df)
    // the window exchange on query_id must not carry the embedding
    // array or the code array — the r9 narrow-projection rule
    val exchangeIdx = p.linesIterator.indexWhere(l =>
      l.contains("Exchange hashpartitioning(query_id"))
    assert(exchangeIdx >= 0, p.take(3000))
    val window = p.linesIterator.toSeq
      .drop(exchangeIdx).take(6).mkString("\n")
    assert(!window.contains("code") || window.contains("approx"), window)
    spark.catalog.clearCache()
  }

  test("interactions: exactly one window shuffle implements the upsert") {
    // the is_implicit filter CANNOT push below the latest-wins window
    // (the kept row determines the flag) — but the upsert must cost
    // exactly one (user,item) exchange, not one per consumer branch
    val p = plan(Relational.movieStats(spark, sf))
    val windowExchanges = p.linesIterator
      .count(l => l.contains("hashpartitioning(user_id") && l.contains("item_id"))
    assert(windowExchanges === 1, p)
  }

  test("lm score: every model-table join is broadcast — the corpus never sort-merge-joins") {
    // the count tables are bounded (≤ 4096 + 65536 rows) by
    // construction; if one ever reaches the corpus-side explode as a
    // SortMergeJoin the 100 TB contract is gone
    val p = plan(graft.operators.Lm.lmScore(spark, sf))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 3, p.take(4000))
  }

  test("hard negatives: embeddings prune via broadcast semi-join; no sort-merge join anywhere") {
    val p = plan(graft.operators.Retrieval.hardNegatives(spark, sf))
    assert(!p.contains("SortMergeJoin"), p.take(4000))
    assert(p.contains("LeftSemi"), p.take(4000))
  }

  test("proto prune: map-side assignment — the one hash exchange is the per-cluster window") {
    val p = plan(graft.operators.Curation.protoPrune(spark, sf))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 cluster-window shuffle, got $exchanges\n" + p.take(4000))
    assert(p.contains("hashpartitioning(cluster"), p.take(4000))
  }

  test("best-fit pack: one bucket-keyed exchange feeds the per-bucket packer") {
    val p = plan(graft.operators.SeqPack.packBestFit(spark, sf))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 bucket shuffle, got $exchanges\n" + p.take(4000))
  }
}
