package joinbench

import graft.QueryDef
import graft.SparkEntry
import graft.streaming.Streaming
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** A mix of the engine's registry queries over generated tables: small
  * TPC-H shaped scans and aggregates, a join that writes and prunes a
  * partitioned store, a window rewrite and a watermarked streaming
  * window aggregation. The tables have the schema of
  * the engine's test data (`Tables.table` layout: one `<name>.parquet`
  * file per table in one directory) at `sf` times the row counts of its
  * scale factor 0.1; only the tables these queries read are made.
  *
  * Each execution is checked against the cold pass's (rows, hash); the
  * cold pass's rows are written out so `run.py` can compare them with
  * the query's DuckDB oracle over the same tables.
  */
final class RegistryMix(ctx: Ctx, sf: Double) extends Workload {
  import ctx.{spark, tracer}
  import RegistryMix._

  private var sfDir = ""
  private var resultsDir = ""
  private val registry: Map[String, QueryDef] = SparkEntry.registry.map(q => q.name -> q).toMap
  require(Names.forall(registry.contains), s"not in the registry: ${Names.filterNot(registry.contains)}")
  private var cold = Map.empty[String, Vector[Long]]
  private var lastRows: Array[Row] = Array.empty
  private var lastSchema: org.apache.spark.sql.types.StructType = null
  private var rows = 0L

  private def n(base: Long): Long = math.max(1L, math.round(base * sf / 0.1))

  def generate(out: String): Unit = {
    val dir = s"$out/sf"
    val h = Hash(ctx.seed)
    val orders = n(150000)
    val suppliers = n(1000)
    val parts = n(20000)
    val events = n(100000)
    val users = n(1500)
    def range(rows: Long) = spark.range(0, rows, 1, ctx.files)
    def pick(c: Column, xs: Seq[String]): Column = element_at(array(xs.map(lit): _*), c.cast("int") + 1)
    def cents(c: Column): Column = c / lit(100.0)
    def day(c: Column): Column = date_add(lit("1995-01-01").cast("date"), c.cast("int"))
    def ntz(d: Column): Column = d.cast("timestamp_ntz")

    val tables = Seq[(String, DataFrame)](
      "orders" -> range(orders).select(col("id").as("o_orderkey"),
        h.mod(orders / 10, col("id"), 11).as("o_custkey"),
        pick(h.mod(3, col("id"), 12), Seq("F", "O", "P")).as("o_orderstatus"),
        cents(h.mod(49899128, col("id"), 13) + 100191).as("o_totalprice"),
        ntz(day(h.mod(2404, col("id"), 14))).as("o_orderdate"),
        pick(h.mod(5, col("id"), 15), Priorities).as("o_orderpriority")),
      // 1–7 lines per order, shipped 1–121 days after the order date
      "lineitem" -> range(orders)
        .select(col("id").as("o"), explode(sequence(lit(1), (h.mod(7, col("id"), 16) + 1).cast("int")))
          .as("ln"))
        .select(col("o").as("l_orderkey"),
          h.mod(parts, col("o"), col("ln"), 17).as("l_partkey"),
          h.mod(suppliers, col("o"), col("ln"), 18).as("l_suppkey"),
          col("ln").as("l_linenumber"),
          (h.mod(50, col("o"), col("ln"), 19) + 1).cast("double").as("l_quantity"),
          cents(h.mod(10409924, col("o"), col("ln"), 20) + 90068).as("l_extendedprice"),
          cents(h.mod(11, col("o"), col("ln"), 21)).as("l_discount"),
          cents(h.mod(9, col("o"), col("ln"), 22)).as("l_tax"),
          pick(h.mod(3, col("o"), col("ln"), 23), Seq("A", "N", "R")).as("l_returnflag"),
          pick(h.mod(2, col("o"), col("ln"), 24), Seq("F", "O")).as("l_linestatus"),
          ntz(day(h.mod(2404, col("o"), 14) + h.mod(121, col("o"), col("ln"), 25) + 1))
            .as("l_shipdate")),
      // event time rises with event_id over 30 days, with jitter inside
      // each event's slot, so the arrival slices are in event-time order
      "events" -> {
        val slot = 30L * 86400L * 1000000L / events
        range(events).select(col("id").as("event_id"),
          timestamp_micros(lit(1704067200000000L) + col("id") * slot + h.mod(slot, col("id"), 26))
            .cast("timestamp_ntz").as("ts"),
          h.mod(users, col("id"), 27).as("user_id"),
          pick(h.mod(5, col("id"), 28), EventTypes).as("event_type"),
          cents(h.mod(56022, col("id"), 29)).as("value"),
          format_string("{\"k\": %d}", h.mod(100, col("id"), 30)).as("props"))
      })
    for ((name, df) <- tables) ctx.writeFile(df, s"$dir/$name.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    rows = tables.map { case (name, _) =>
      val in = HadoopInputFile.fromPath(new Path(s"$dir/$name.parquet"), conf)
      val r = ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  def use(out: String): Unit = {
    sfDir = s"$out/sf"
    resultsDir = s"$out/results"
    // build the streaming arrival fixture here, not in the cold pass:
    // the engine keys it on java.io.tmpdir and reuses it across queries
    tracer.span("fixture.arrival", "streaming") { Streaming.eventsArrivalDir(spark, sfDir, nFiles = 2) }
  }

  def queries: Seq[Query] = Names.map { name =>
    Query(name, () => {
      val df = tracer.span("registry.fn", "registry", "query" -> name) { registry(name).fn(spark, sfDir) }
      val (schema, out) = ctx.collectRows(df)
      lastSchema = schema
      lastRows = out
      Vector(out.length.toLong, out.iterator.map(r => MurmurHash3.seqHash(r.toSeq).toLong).sum)
    })
  }

  /** After the cold pass's execution of a query: keep its rows for the
    * oracle comparison. */
  override def keep(query: String, pass: Int): Unit = {
    if (pass == 0 && lastSchema != null) {
      val df = spark.createDataFrame(java.util.Arrays.asList(lastRows: _*), lastSchema)
      df.coalesce(1).write.parquet(s"$resultsDir/$query")
    }
    lastRows = Array.empty
    lastSchema = null
  }

  /** Every execution must match the cold pass's (rows, hash); the cold
    * pass itself is held against the DuckDB oracle by `run.py`. */
  def check(values: Map[String, Vector[Long]]): Map[String, String] = {
    if (cold.isEmpty) cold = values
    values.collect { case (q, v) if cold.get(q).exists(_ != v) =>
      q -> s"(rows, hash) $v != cold pass ${cold(q)}"
    }
  }

  def facts: Seq[(String, Double)] = Seq("datagen.rows" -> rows.toDouble)

  /** What `run.py` needs for the oracle comparison. */
  override def info: Map[String, Any] = Map("sf_dir" -> sfDir, "results_dir" -> resultsDir,
    "oracle" -> Names.flatMap(q => registry(q).oracle.map(q -> _)).toMap)
}

object RegistryMix {
  /** The registry queries of one pass. */
  val Names: Seq[String] = Seq(
    "join_dpp", "q6_forecast_revenue", "window_top1_rewrite", "agg_grouping_sets",
    "agg_pricing_summary", "filter_pushdown", "stream_window_append")

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Seeded column hashing: `mod(m, cols…, salt)` is uniform in [0, m). */
  final case class Hash(seed: Long) {
    def mod(m: Long, parts: Any*): Column =
      pmod(xxhash64((parts.map {
        case c: Column => c
        case x => lit(x)
      } :+ lit(seed)): _*), lit(m))
  }
}
