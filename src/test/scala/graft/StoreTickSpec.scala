package graft

import graft.operators.{Dedup, ItemCF, TextAnalysis}
import graft.streaming.{BucketStore, DocStream, EventStream}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

/** The exact-dedup, line-count and co-occurrence stores each have one
  * named tick, run by both their streaming maintainer and their
  * registered `_store` rung. Two contracts of that tick, per family:
  * a failed tick leaves no cached frame behind and no marker moved,
  * and the `_store` rung built on it returns its `_inc` twin's rows.
  */
class StoreTickSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // the gate scale factor's corpus, beside the suites' default one
  private val sfGate = new java.io.File(TestSpark.sf).getParent + "/sf0.01"

  private def cached(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private val docSeed = Seq(
    (1L, "Cookie notice\nbody one"), (2L, "Cookie notice\nbody two"),
    (3L, "unique alpha\n\nunique beta"))

  /** Seed a 64-bucket store under `root`, start its maintainer with
    * `nBuckets = 32` and feed it one batch; returns the query and the
    * store whose marker the tick would move.
    */
  private val maintainers: Seq[(String, String => (StreamingQuery, String))] = Seq(
    "exact dedup" -> { root =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val dir = root + "/store"
      Dedup.seedDedupMemberStore(spark, docSeed.toDF("doc_id", "text"), dir, nBuckets = 64)
      val in = MemoryStream[DocIngest]
      val q = DocStream.startDedupMaintain(in.toDF(), dir, root + "/ckpt", nBuckets = 32)
      in.addData(DocIngest(4L, "Cookie notice\nbody one"))
      (q, dir)
    },
    "line counts" -> { root =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val dir = root + "/store"
      BucketStore.seed(TextAnalysis.lineCountsOf(docSeed.toDF("doc_id", "text")),
        BucketStore.md5Bucket(md5(col("k")), 64), dir, n = 64, kind = BucketStore.KindMd5)
      val in = MemoryStream[DocIngest]
      val q = DocStream.startLineCountMaintain(in.toDF(), dir, root + "/ckpt", nBuckets = 32)
      in.addData(DocIngest(4L, "Cookie notice\nbody four"))
      (q, dir)
    },
    "co-occurrence" -> { root =>
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val factsDir = root + "/facts"
      val dir = root + "/matrix"
      Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("user_id", "item_id").write.parquet(factsDir)
      BucketStore.seed(ItemCF.coocCountsPkOn(spark.read.parquet(factsDir)),
        ItemCF.pairBucket(col("pk"), 64), dir, n = 64)
      val in = MemoryStream[(Long, Long)]
      val q = EventStream.startCoocMaintain(in.toDF().toDF("user_id", "item_id"),
        factsDir, dir, root + "/ckpt", nBuckets = 32)
      // user 1 gains item 12: delta pairs (10, 12) and (11, 12)
      in.addData((1L, 12L))
      (q, dir)
    })

  for ((family, start) <- maintainers)
    test(s"$family: a tick failing on a bucket-count mismatch leaves nothing cached and the marker unmoved") {
      val root = java.nio.file.Files.createTempDirectory("store_tick_fail").toString
      val cached0 = cached()
      val (q, dir) = start(root)
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      q.stop()
      assert(e.getCause.getMessage.contains("bucket-count mismatch"), e.getCause.getMessage)
      assert(cached() === cached0, "the failed tick left cached blocks behind")
      assert(BucketStore.appliedBatchId(dir) === -1L)
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
