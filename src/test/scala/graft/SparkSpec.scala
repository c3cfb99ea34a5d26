package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession across suites. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "0.001"): String = s"/root/testdata/sf$dir"
}

object SparkSpec {
  /** Built through the library's session factory, so the suites run with
    * the codegen cache size it sets; the suites' own confs stay as before,
    * including Spark's default 1m AQE minPartitionSize. */
  lazy val session: SparkSession = {
    val s = Graft.session("graft-tests", 4, Map(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m"))
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Held by every test that mutates the JVM-wide artifact state
    * (`ArtifactStore.rootOverride`, `enabled`, `graceMs`), so such tests
    * never interleave if suites run in parallel in one JVM. */
  val artifactLock = new Object
}
