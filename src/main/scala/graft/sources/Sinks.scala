package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side layout operators — the at-scale counterparts of the
  * reference's two sinks (PostgreSQL tables in prepare_dataset.py:170,
  * redis top-N/stat keys in estimator.persist / statistics.py:39).
  *
  * On a lake the same roles are played by partitioned parquet (predicate
  * pruning on read), bucketed tables (pre-shuffled join layout), and a
  * key-value export in exactly the reference's redis format.
  */
object Sinks {

  /** Per-run unique store root `<artifactDir>/<tag>_<sfDir digest>_<run id>`
    * for the registered store demos (index builds, ladder ticks). A
    * deterministic shared path would let two concurrent invocations on
    * the same corpus (a bench beside an oracle run) race each other's
    * seed delete; the stored values are path-independent, so
    * uniqueness costs nothing.
    */
  private[graft] def freshStoreDir(tag: String, sfDir: String, artifactDir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    s"$artifactDir/${tag}_${digest}_$runId"
  }

  /** Hive-style partitioned parquet: one directory per partition value,
    * so readers filtering on the partition column prune entire files.
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Bucketed table: pre-shuffled on the join key at write time. Two
    * tables bucketed the same way join with ZERO exchanges — the
    * layout that makes the 100 TB interactions⋈dim join shuffle-free.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, buckets: Int = 8): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** The reference's redis export shape (estimator.persist:81-99):
    * key `u<user_id>`, value `item;item;...` ordered by rank. Emitted
    * as a DataFrame so any KV-capable sink (redis connector, kafka,
    * csv) can consume it without reshaping.
    */
  def topNKeyValue(recs: DataFrame): DataFrame =
    recs
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("rn"), col("item_id")))).as("items"))
      .select(
        concat(lit("u"), col("user_id")).as("key"),
        concat_ws(";", expr("transform(items, x -> x.item_id)")).as("value"))

  /** statistics.py redis keys: `m<id>#counts` and `m<id>#avg` rows. */
  def statsKeyValue(stats: DataFrame): DataFrame = {
    val counts = stats.select(
      concat(lit("m"), col("item_id"), lit("#counts")).as("key"),
      col("count_users").cast("string").as("value"))
    val avgs = stats.select(
      concat(lit("m"), col("item_id"), lit("#avg")).as("key"),
      col("avg_rating").cast("string").as("value"))
    counts.unionAll(avgs)
  }
}
