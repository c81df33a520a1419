package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * in one forked JVM under `Test / fork := true`). */
object SparkSpec {
  lazy val spark: SparkSession = Graft.local(4, Map("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft_wh").toString))
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf
}
