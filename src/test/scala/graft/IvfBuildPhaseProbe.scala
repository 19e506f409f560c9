package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Measurement driver behind the r17 resolution of the r16 verdict's
  * #1 ("make coarse assignment sub-linear in nlist"). It produced,
  * in order, the receipts that overturned the r16 attribution and
  * pinned the rails:
  *
  *   1. With MLlib training, the derived build split train ≈ 36 s /
  *      corpus assignment 11–15 s / bucket write ~13–28 s — the
  *      "O(n·nlist) assignment dominates" claim was wrong; the MLlib
  *      fit (k-quadratic driver-side init) was the dominant term.
  *      → [[Similarity.fitCoarseCentroids]] routes nlist > 256 to
  *      deterministic Lloyd's; train measured 36 → 12–16 s under a
  *      2× higher-load host (same-run assign keys inflated alike).
  *   2. The EXACT ball-pruned two-level scan lost to the flat
  *      codegen argmin at dim 64, and the gap WIDENED with nlist —
  *      same-run pairs: flat 11.4 / 39.2 / 196 s vs two-level
  *      15.1 / 96.1 / 684 s at nlist 2048 / 8192 / 32768 — so
  *      [[Similarity.assignClusters]] is flat at every nlist and the
  *      two-level kernel and its probe legs were deleted.
  *
  * Phases timed solo in a fresh mirror of the BenchScaleDocs session
  * against the bench's own persisted 2M corpus
  * (`target/graft-scale-docs/vecs` — run BenchScaleDocs first):
  * `train` ([[Similarity.trainQuantizer]]), `assign` (corpus-wide,
  * noop write) and `seed_store` ([[Similarity.seedIvfStore]]).
  */
object IvfBuildPhaseProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)

    val vecsDir = args.headOption.getOrElse("target/graft-scale-docs/vecs")
    def corpus() = spark.read.parquet(vecsDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(expr("graft_dot(v, v)")))
    val n = corpus().count()
    val nlist = Similarity.deriveSemanticNlist(n)
    println(s"[ivf-probe] n=$n nlist_derived=$nlist")

    def once(tag: String)(run: => Unit): Double = {
      val t0 = System.nanoTime()
      run
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[ivf-probe] $tag%-14s $dt%7.2f s")
      dt
    }

    // warm-up: touch the parquet + codegen paths at a small nlist
    Similarity.trainQuantizer(spark, corpus().filter(col("vec_id") < 100000),
      "target/graft-ivfprobe/warm_cents", 64)

    for (i <- 1 to 2) {
      var cents: Seq[(Int, Seq[Double])] = Seq.empty
      once(s"train_$i") {
        cents = Similarity.trainQuantizer(spark, corpus(),
          s"target/graft-ivfprobe/cents_$i", nlist, n = n)
      }
      once(s"assign_$i") {
        Similarity.assignClusters(corpus(), cents)
          .write.format("noop").mode("overwrite").save()
      }
      once(s"seed_store_$i") {
        Similarity.seedIvfStore(spark, corpus(),
          s"target/graft-ivfprobe/store_$i", cents, nlist)
      }
    }
    spark.stop()
  }
}
