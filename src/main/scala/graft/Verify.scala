package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each registry query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The session is
  * Bench's ([[Graft.local]]), so the oracle checks the configuration the
  * bench measures; `SPARK_GRAFT_CONF` with the four local-tier budgets
  * set to 0 forces every operator's distributed shape through the same
  * gate. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Graft.local()
    new java.io.File(outDir).mkdirs()
    Graft.selected.foreach { q =>
      try q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // queries are independent by contract — drop whatever cache
      // blocks this one left behind before the next starts
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
