package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The one lifecycle every streaming store maintainer runs: the
  * [[DocStream]] and [[EventStream]] `start*` maintainers each supply
  * only their stores, their commit store, the batch projection and
  * the tick.
  */
object Maintainer {

  /** Start a maintainer. Per micro-batch, in this order:
    *
    *  1. [[BucketStore.recover]] on every store — an interrupted tick's
    *     unpublished generations roll back before anything reads them;
    *  2. the replay guard: a batch at or below `commitStore`'s
    *     applied-batch marker was fully applied before a restart, and
    *     is skipped before any Spark job runs;
    *  3. `prep(batch)` is cached, and released on every exit, a failed
    *     tick's included, so no batch stays pinned for the session;
    *  4. one count of the cached batch's rows — it fills the cache and
    *     is the one empty-batch test: an empty batch runs no tick, so
    *     every store and its marker stay untouched. It counts off the
    *     cached plan's RDD, one job: `Dataset.count` adds an aggregation
    *     whose exchange AQE runs as a second job;
    *  5. `tick(batch, batchId, rows)`.
    *
    * The commit store is the store a tick moves LAST, so "its marker
    * caught up" means the whole tick landed; anything earlier re-runs
    * idempotently, each store skipping on its own marker. `None` leaves
    * the guard to the tick, for a maintainer whose last write is not a
    * store publish.
    *
    * @param checkpointDir durable streaming checkpoint (REQUIRED: the
    *                      replay guard needs batch ids that stay
    *                      monotonic across restarts)
    */
  def start(input: DataFrame, checkpointDir: String, stores: Seq[String],
            commitStore: Option[String])(prep: DataFrame => DataFrame)
           (tick: (DataFrame, Long, Long) => Unit): StreamingQuery =
    input.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        stores.foreach(BucketStore.recover)
        if (commitStore.forall(BucketStore.appliedBatchId(_) < batchId)) {
          val b = prep(batch.toDF()).cache()
          try {
            val rows = b.queryExecution.toRdd.count()
            if (rows > 0) tick(b, batchId, rows)
          } finally { b.unpersist(); () }
        }
      }
      .start()
}
