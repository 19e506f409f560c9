package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate returns the
  * same context; suites must not stop() it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** For a suite whose operators hand back frames they cached or
  * checkpointed (a connected-components label table, a hot-bucket
  * list, a fitted model's factors): after the suite's last test, the
  * failed ones included, every RDD the suite left persisted is
  * released, so a later suite in the same JVM does not inherit its
  * heap.
  */
trait ReleasesCaches extends org.scalatest.BeforeAndAfterAll { this: org.scalatest.Suite =>
  private var before = Set.empty[Int]

  override def beforeAll(): Unit = {
    before = TestSpark.spark.sparkContext.getPersistentRDDs.keySet.toSet
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally TestSpark.spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = false)
    }
}
