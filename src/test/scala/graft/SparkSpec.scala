package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run with `Test / fork := true`, so this is per-test-run). sf0.001
  * testdata keeps every suite in seconds.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Release every cache the suite left in the JVM-wide session (suites
    * run one after another in it), so a later suite's plans read their
    * sources, not this suite's InMemoryRelations.
    */
  override def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Graft.session("graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
