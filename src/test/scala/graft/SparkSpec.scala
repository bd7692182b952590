package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 keeps each suite in seconds. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val Sf = "/root/testdata/sf0.001"
  /** The fixture directory `name` (e.g. "sf0.01") beside [[Sf]]. */
  def fixture(name: String): String =
    java.nio.file.Paths.get(Sf).resolveSibling(name).toString

  /** The production session config on 8 cores — and
    * spark.sql.extensions is STATIC: it only takes effect on the session
    * that creates the SparkContext, so the shared suite context must
    * carry it for ExtensionsSpec to pass in any suite order. */
  lazy val spark: SparkSession = GraftSession.local(8)

  // Each suite's start and end on stdout with the wall clock, so a run
  // killed or timed out part-way shows which suite it died in.
  override def beforeAll(): Unit = {
    println(s"[suite] start ${suiteName} ${java.time.Instant.now()}")
    super.beforeAll()
  }

  override def afterAll(): Unit = {
    // One shared JVM-wide session across suites; don't stop it between
    // suites (sbt runs them sequentially in the forked JVM).
    super.afterAll()
    println(s"[suite] end ${suiteName} ${java.time.Instant.now()}")
  }
}
