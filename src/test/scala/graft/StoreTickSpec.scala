package graft

import graft.operators.{Dedup, ItemCF, Retrieval, Similarity, TextAnalysis}
import graft.streaming.{BucketStore, DocStream, EventStream}
import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The nine streaming store maintainers all run through
  * [[graft.streaming.Maintainer.start]]. One table pins the skeleton's
  * contracts per maintainer: a failed tick leaves no cached frame
  * behind and no commit marker moved; an empty micro-batch leaves the
  * commit marker's bytes unchanged and runs no drift probe; and a
  * batch at or below the commit marker runs no Spark job. The
  * exact-dedup, line-count and co-occurrence stores each have one
  * named tick, run by both their streaming maintainer and their
  * registered `_store` rung, which must return its `_inc` twin's rows.
  */
class StoreTickSpec extends AnyFunSuite with ReleasesCaches {
  private lazy val spark = TestSpark.spark
  // the gate scale factor's corpus, beside the suites' default one
  private val sfGate = new java.io.File(TestSpark.sf).getParent + "/sf0.01"

  private def cached(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val docSeed = Seq(
    (1L, "Cookie notice\nbody one"), (2L, "Cookie notice\nbody two"),
    (3L, "unique alpha\n\nunique beta"))

  private val nearDupSeed = Seq(
    1L -> "the quick brown fox jumps over the lazy dog by the river tonight",
    2L -> "completely unrelated text about cooking pasta with garlic and olive oil",
    3L -> "another distinct document covering mountain hiking trails in early spring")

  // four tight synthetic clusters, deterministic jitter
  private def vec(i: Long): Seq[Double] = (0 until 6).map(d =>
    math.cos((i % 4) * 1.9 + d) * 5.0 + ((i * 37 + d * 11) % 97) / 970.0)

  /** A started maintainer and its input stream. */
  private case class Running(q: StreamingQuery, feed: () => Unit, feedEmpty: () => Unit)

  /** One maintainer under test, its stores seeded under a fresh root.
    * `start(checkpointDir, badLayout, onDrift)` starts it — with
    * `badLayout` its first tick must fail on a bucket-count mismatch,
    * and `onDrift` counts drift-probe firings where the maintainer
    * has a probe (configured so that any run of it fires). `commitDir`
    * is the store whose marker the tick moves last.
    */
  private case class Maint(commitDir: String, start: (String, Boolean, () => Unit) => Running,
      hasProbe: Boolean = false)

  private def run[A: Encoder](rows: A*)(start: DataFrame => StreamingQuery): Running = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[A]
    val q = start(in.toDF())
    Running(q, () => { in.addData(rows: _*); () }, () => { in.addData(); () })
  }

  private def seedRatings(dir: String): Unit = {
    import spark.implicits._
    BucketStore.seed(
      Seq((1L, 10L, 4.0, false, ts("2024-01-01 00:00:00")),
        (2L, 11L, 3.0, false, ts("2024-01-01 00:00:00")))
        .toDF("user_id", "item_id", "rating", "is_implicit", "ts"),
      pmod(col("user_id"), lit(64)).cast("int"), dir, n = 64)
  }

  /** A user-bucketed co-occurrence facts store and the pair-count
    * matrix store seeded from the same facts, both at 64 buckets.
    */
  private def seedCooc(factsDir: String, matrixDir: String, facts: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val df = facts.toDF("user_id", "item_id")
    BucketStore.seed(df, BucketStore.longBucket(col("user_id"), 64), factsDir, n = 64)
    BucketStore.seed(ItemCF.coocCountsPkOn(df), ItemCF.pairBucket(col("pk"), 64), matrixDir, n = 64)
  }

  private val rating = RatingUpdate(3L, 10L, 2.5, false, ts("2024-01-02 00:00:00"), "upsert")

  private val maintainers: Seq[(String, String => Maint)] = Seq(
    "near-dup banded" -> { root =>
      import spark.implicits._
      val (sig, band) = (root + "/sig", root + "/band")
      Dedup.seedMinhashStores(spark, nearDupSeed.toDF("doc_id", "text"), sig, band, nBuckets = 64)
      Maint(band, (ckpt, bad, onDrift) =>
        run(DocIngest(10L, nearDupSeed.head._2.replace("tonight", "today"))) { in =>
          DocStream.startNearDupMaintain(in, sig, band, root + "/pairs", ckpt,
            nBuckets = if (bad) 32 else 64,
            probe = Some(Dedup.BandedProbeConfig(sample = 4, floor = 2.0,
              onDrift = (_, _) => onDrift())))
        }, hasProbe = true)
    },
    "exact dedup" -> { root =>
      import spark.implicits._
      val dir = root + "/store"
      Dedup.seedDedupMemberStore(spark, docSeed.toDF("doc_id", "text"), dir, nBuckets = 64)
      Maint(dir, (ckpt, bad, _) => run(DocIngest(4L, "Cookie notice\nbody one")) { in =>
        DocStream.startDedupMaintain(in, dir, ckpt, nBuckets = if (bad) 32 else 64)
      })
    },
    "line counts" -> { root =>
      import spark.implicits._
      val dir = root + "/store"
      BucketStore.seed(TextAnalysis.lineCountsOf(docSeed.toDF("doc_id", "text")),
        BucketStore.md5Bucket(md5(col("k")), 64), dir, n = 64, kind = BucketStore.KindMd5)
      Maint(dir, (ckpt, bad, _) => run(DocIngest(4L, "Cookie notice\nbody four")) { in =>
        DocStream.startLineCountMaintain(in, dir, ckpt, nBuckets = if (bad) 32 else 64)
      })
    },
    "IVF" -> { root =>
      import spark.implicits._
      graft.functions.VectorFunctions.register(spark)
      val (dir, cents, byId) = (root + "/ivf", root + "/cents", root + "/byid")
      val vecs = (1L to 40L).map(i => (i, vec(i))).toDF("vec_id", "v")
        .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
      Similarity.seedIvfStore(spark, vecs, dir,
        Similarity.trainQuantizer(spark, vecs, cents, 4), 4)
      Retrieval.seedVecSidecar(spark, vecs, byId)
      Maint(dir, (ckpt, bad, onDrift) => run(VecIngest(50L, vec(50L))) { in =>
        DocStream.startIvfMaintain(in, dir, cents, ckpt, nlist = if (bad) 8 else 4,
          probe = Some(Similarity.IvfProbeConfig(sample = 4, k = 3, threshold = 2.0,
            onDrift = (_, _) => onDrift())),
          byIdDir = Some(byId))
      }, hasProbe = true)
    },
    "BM25" -> { root =>
      import spark.implicits._
      val dir = root + "/idx"
      Retrieval.buildBm25Index(nearDupSeed.toDF("doc_id", "text"), dir)
      Maint(dir + "/postings", (ckpt, bad, _) => {
        // the stats store applies first: reseeded at a foreign bucket
        // count, the tick fails before either store moves
        if (bad) BucketStore.seed(Seq((0L, 0L)).toDF("n_docs", "sum_dl"), lit(0),
          dir + "/stats", n = 2)
        run(DocIngest(10L, "a new document about rivers and foxes")) { in =>
          DocStream.startBm25Maintain(in, dir, ckpt)
        }
      })
    },
    "semantic dedup" -> { root =>
      import spark.implicits._
      val (dir, cents) = (root + "/sem", root + "/semcents")
      Similarity.seedSemanticStore(spark, (1L to 24L).map(i => (i, vec(i))).toDF("vec_id", "v"),
        dir, cents, threshold = 0.92, nlist = 3)
      Maint(dir, (ckpt, bad, onDrift) => run(VecIngest(50L, vec(50L))) { in =>
        DocStream.startSemanticDedupMaintain(in, dir, cents, root + "/verdicts", ckpt,
          nlist = if (bad) 6 else 3,
          probe = Some(Similarity.SemanticProbeConfig(sample = 4, floor = 2.0,
            onDrift = (_, _) => onDrift())))
      }, hasProbe = true)
    },
    "CDC apply" -> { root =>
      import spark.implicits._
      val dir = root + "/ratings"
      seedRatings(dir)
      Maint(dir, (ckpt, bad, _) => run(rating) { in =>
        EventStream.startCdcApply(in, dir, ckpt, nBuckets = if (bad) 32 else 64)
      })
    },
    "co-occurrence" -> { root =>
      import spark.implicits._
      val factsDir = root + "/facts"
      val dir = root + "/matrix"
      seedCooc(factsDir, dir, Seq((1L, 10L), (1L, 11L), (2L, 10L)))
      // user 1 gains item 12: delta pairs (10, 12) and (11, 12). The
      // facts store moves last; the bad layout is the matrix's
      Maint(factsDir, (ckpt, bad, _) => run((1L, 12L)) { in =>
        EventStream.startCoocMaintain(in.toDF("user_id", "item_id"), factsDir, dir, ckpt,
          nBuckets = if (bad) 32 else 64)
      })
    },
    "retrain loop" -> { root =>
      import spark.implicits._
      val dir = root + "/ratings"
      seedRatings(dir)
      Maint(dir, (ckpt, bad, _) => run(rating) { in =>
        EventStream.startRetrainLoop(in, dir, root + "/recs", ckpt,
          retrainEvery = 1000, nBuckets = if (bad) 32 else 64)
      })
    })

  private def marker(dir: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, "_graft_applied_batch")).toSeq

  /** Run `body` and return the number of Spark jobs the streaming
    * query it returns ran (the stream's micro-batches run under the
    * query's run id as their job group).
    */
  private def jobsOf(body: => StreamingQuery): Int = {
    val groups = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        groups.merge(g, 1, (a, b) => a + b); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = body
      // the listener bus is async — read the counter once it stops moving
      def cnt(): Int = Option(groups.get(q.runId.toString)).fold(0)(_.intValue())
      var prev = -1; var cur = cnt(); var spins = 0
      while (cur != prev && spins < 100) {
        prev = cur; Thread.sleep(100); cur = cnt(); spins += 1
      }
      cur
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def fresh(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  for ((family, maint) <- maintainers) {
    test(s"$family: a tick failing on a bucket-count mismatch leaves nothing cached and the marker unmoved") {
      val root = fresh("store_tick_fail")
      val m = maint(root)
      val cached0 = cached()
      val r = m.start(root + "/ckpt", true, () => ())
      r.feed()
      val e = intercept[StreamingQueryException](r.q.processAllAvailable())
      r.q.stop()
      assert(e.getCause.getMessage.contains("bucket-count mismatch"), e.getCause.getMessage)
      assert(cached() === cached0, "the failed tick left cached blocks behind")
      assert(BucketStore.appliedBatchId(m.commitDir) === -1L)
    }

    test(s"$family: an empty micro-batch leaves the commit marker's bytes unchanged and runs no probe") {
      val root = fresh("store_tick_empty")
      val m = maint(root)
      val fired = new java.util.concurrent.atomic.AtomicInteger(0)
      val r = m.start(root + "/ckpt", false, () => { fired.incrementAndGet(); () })
      try {
        r.feed()
        r.q.processAllAvailable()
        assert(BucketStore.appliedBatchId(m.commitDir) === 0L)
        val marker0 = marker(m.commitDir)
        val fired0 = fired.get
        // the probe is configured to fire on any run: the applied
        // batch shows it is wired, so the empty batch's zero is real
        if (m.hasProbe) assert(fired0 > 0, "the drift probe never ran on the applied batch")
        r.feedEmpty()
        r.q.processAllAvailable()
        assert(r.q.lastProgress.batchId === 1L && r.q.lastProgress.numInputRows === 0L)
        assert(marker(m.commitDir) === marker0)
        assert(fired.get === fired0, "the empty batch ran the drift probe")
      } finally r.q.stop()
    }

    test(s"$family: a batch at or below the commit marker runs no Spark job") {
      val root = fresh("store_tick_replay")
      val m = maint(root)
      val applied = jobsOf {
        val r = m.start(root + "/ckpt", false, () => ())
        r.feed(); r.q.processAllAvailable(); r.q.stop(); r.q
      }
      // the same count applied to the first delivery is not zero: the
      // listener sees the stream's jobs
      assert(applied > 0)
      assert(BucketStore.appliedBatchId(m.commitDir) === 0L)
      val marker0 = marker(m.commitDir)
      // a fresh checkpoint re-delivers the batch as batch 0 again,
      // which the store already holds: a restart that lost its offsets
      val replayed = jobsOf {
        val r = m.start(root + "/ckpt_replay", false, () => ())
        r.feed(); r.q.processAllAvailable(); r.q.stop(); r.q
      }
      assert(marker(m.commitDir) === marker0)
      assert(replayed === 0, s"the replayed batch ran $replayed Spark jobs")
    }
  }

  test("co-occurrence: a crash between the matrix publish and the facts append heals on replay") {
    import spark.implicits._
    val root = fresh("cooc_crash_window")
    val factsDir = root + "/facts"
    val dir = root + "/matrix"
    seedCooc(factsDir, dir, Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L)))
    // batch 0's matrix tick lands; the facts append never runs
    val batch = Seq((1L, 12L), (2L, 11L), (1L, 10L))
    ItemCF.coocMergeTick(spark, dir, BucketStore.readAll(spark, factsDir),
      batch.toDF("user_id", "item_id"), 0L, 64)
    assert(BucketStore.appliedBatchId(dir) === 0L)
    assert(BucketStore.appliedBatchId(factsDir) === -1L)
    val marker0 = marker(dir)
    // the source re-delivers batch 0
    val r = run(batch: _*) { in =>
      EventStream.startCoocMaintain(in.toDF("user_id", "item_id"), factsDir, dir,
        root + "/ckpt")
    }
    r.feed()
    r.q.processAllAvailable()
    r.q.stop()
    val facts = BucketStore.readAll(spark, factsDir)
    // the facts gain the batch's two new rows, not its existing one
    assert(facts.as[(Long, Long)].collect().toSet ===
      Set((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L), (1L, 12L), (2L, 11L)))
    assert(facts.count() === 6L)
    // and the matrix tick was not applied twice; the facts committed
    assert(marker(dir) === marker0)
    assert(BucketStore.appliedBatchId(factsDir) === 0L)
    def rows(df: DataFrame) = df.select("item_a", "item_b", "n_users")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(ItemCF.unpackCoocPk(BucketStore.readAll(spark, dir))) ===
      rows(ItemCF.coocCountsOn(facts)))
  }

  /** Every file under `under` that a plan executed while `body` runs
    * scans — cached frames' build plans, AQE stages and write commands
    * included — caught off the listener manager (the bus is async, so
    * this polls until the set stops growing).
    */
  private def scannedFiles(under: String)(body: => Unit): Set[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries ++
        other.innerChildren.collect { case c: SparkPlan => c }).flatMap(scans)
    }
    val files = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        scans(qe.executedPlan).flatMap(_.relation.location.inputFiles)
          .filter(_.contains(under)).foreach(files.add)
        seen.incrementAndGet(); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var prev = -1; var spins = 0
      while (seen.get != prev && spins < 100) { prev = seen.get; Thread.sleep(100); spins += 1 }
      files.asScala.toSet
    } finally spark.listenerManager.unregister(listener)
  }

  test("co-occurrence: a tick opens only the delta users' facts buckets") {
    import spark.implicits._
    val root = fresh("cooc_facts_read")
    val factsDir = root + "/facts"
    val dir = root + "/matrix"
    // users 1..8 in facts buckets 1..8; the batch names users 2 and 5
    seedCooc(factsDir, dir, (1L to 8L).flatMap(u => Seq((u, 10L), (u, 10L + u))))
    val batch = Seq((2L, 15L), (5L, 12L), (5L, 10L))
    val files = scannedFiles(factsDir) {
      val r = run(batch: _*) { in =>
        EventStream.startCoocMaintain(in.toDF("user_id", "item_id"), factsDir, dir,
          root + "/ckpt")
      }
      r.feed(); r.q.processAllAvailable(); r.q.stop()
    }
    val buckets = files.map(f => "bucket=(\\d+)".r.findFirstMatchIn(f).get.group(1).toInt)
    assert(buckets === Set(2, 5), files.mkString(", "))
    // the read was the delta users' whole facts: the matrix and the
    // facts still agree with a batch recount
    val facts = BucketStore.readAll(spark, factsDir)
    assert(facts.count() === 18L)
    def rows(df: DataFrame) = df.select("item_a", "item_b", "n_users")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(ItemCF.unpackCoocPk(BucketStore.readAll(spark, dir))) ===
      rows(ItemCF.coocCountsOn(facts)))
    assert(facts.as[(Long, Long)].collect().toSet.contains((2L, 15L)))
  }

  for ((store, inc) <- Seq(
      "dedup_exact_store" -> "dedup_exact_inc",
      "text_line_dedup_store" -> "text_line_dedup_inc",
      "q_item_cooc_store" -> "q_item_cooc_inc"))
    test(s"$store equals $inc at sf0.01, without duplicate rows") {
      val s = SparkEntry.queries(store)(spark, sfGate).cache()
      val i = SparkEntry.queries(inc)(spark, sfGate).cache()
      try {
        assert(s.columns.sorted === i.columns.sorted)
        val sAligned = s.select(i.columns.map(col): _*)
        assert(sAligned.exceptAll(i).isEmpty, s"$store rows missing from $inc")
        assert(i.exceptAll(sAligned).isEmpty, s"$inc rows missing from $store")
        val n = s.count()
        assert(n > 0)
        assert(n === s.distinct().count())
      } finally { s.unpersist(); i.unpersist() }
    }
}
