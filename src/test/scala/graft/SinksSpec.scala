package graft

import graft.operators.Relational
import graft.sources.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("partitioned write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Sinks.writePartitioned(
      Tables.interactions(spark, sf), dir, Seq("is_implicit"))
    assert(new java.io.File(s"$dir/is_implicit=true").exists())
    val pruned = spark.read.parquet(dir).filter(col("is_implicit") === true)
    val files = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("is_implicit=true")))
  }

  test("bucketed tables join with zero exchanges") {
    // in-memory catalog forgets tables across JVMs but their warehouse
    // dirs persist — clear both before (re)creating
    Seq("b_inter_a", "b_inter_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        import scala.reflect.io.Directory
        new Directory(dir).deleteRecursively()
      }
    }
    val inter = Tables.interactions(spark, sf)
    Sinks.writeBucketed(inter, "b_inter_a", "item_id")
    Sinks.writeBucketed(
      inter.groupBy("item_id").agg(count(lit(1)).as("n")), "b_inter_b", "item_id")
    // force a non-broadcast join so the bucketed layout is what saves
    // the shuffle (at test scale the planner would broadcast instead —
    // also shuffle-free, but then bucketing isn't what's proven)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_inter_a").join(spark.table("b_inter_b"), "item_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE b_inter_a"); spark.sql("DROP TABLE b_inter_b")
  }

  test("topN key-value export matches the reference's redis format") {
    val recs = Relational.userTopRatings(spark, sf, k = 3)
    val kv = Sinks.topNKeyValue(recs).cache()
    val row = kv.filter(col("key") === "u1").head()
    assert(row.getAs[String]("value").split(";").length === 3)
    assert(kv.filter(!col("key").startsWith("u")).count() === 0)
    kv.unpersist()
  }

  test("stats key-value export emits counts+avg per item") {
    val stats = Relational.movieStats(spark, sf)
    val kv = Sinks.statsKeyValue(stats)
    assert(kv.count() === 2 * stats.count())
    assert(kv.filter(col("key").endsWith("#avg")).count() === stats.count())
  }
}
