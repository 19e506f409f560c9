package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The registered query surface is a contract: a refactor that folds
  * or deletes operators must keep every key the r18 correctness record
  * lists, and every DuckDB oracle must name a registered query (an
  * orphaned oracle is a value gate nothing runs).
  */
class RegistrySpec extends AnyFunSuite {

  test("the registry holds exactly the r18 record's keys; every oracle key is registered") {
    val recorded = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("CORRECTNESS_r18.json"))
      .fieldNames().asScala.toSet
    assert(recorded.size === 135)
    val registered = SparkEntry.queries.keySet
    assert(recorded.diff(registered).isEmpty,
      s"keys dropped from the registry: ${recorded.diff(registered).toSeq.sorted}")
    assert(registered.diff(recorded).isEmpty,
      s"keys absent from the r18 record: ${registered.diff(recorded).toSeq.sorted}")
    val orphaned = SparkEntry.oracleSql.keySet.diff(registered)
    assert(orphaned.isEmpty, s"oracles without a registered query: ${orphaned.toSeq.sorted}")
  }
}
