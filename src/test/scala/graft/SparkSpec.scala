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

  /** Run `body`; return its value and the `"choice"` of every
    * `[graft-tier]` stderr line it printed for operator `op`. */
  protected def tierChoices[A](op: String)(body: => A): (A, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val err = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val out = try body finally System.setErr(err)
    val line = ("""\[graft-tier\] \{"op":"""" + op + """",.*"choice":"(\w+)"\}""").r
    (out, buf.toString("UTF-8").linesIterator
      .flatMap(l => line.findFirstMatchIn(l).map(_.group(1))).toSeq)
  }
}
