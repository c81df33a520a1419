package graft.queries

import graft.QueryDef
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Source/sink round-trips, driver-verified: the reference's CSV text
  * scan (S1), key-value text scan (S2) and text sink (S5) exercised
  * end-to-end — data is written to the reference's wire formats, read
  * back through the positional/KV loaders, and aggregated; the oracle
  * computes the same aggregate from the original parquet, so any
  * round-trip corruption (quoting, separators, type loss) breaks the
  * hash. Plus deterministic hash-mod sampling (the pipeline primitive
  * for corpus subsetting).
  */
object SourceQueries {

  private val dec = "decimal(18,2)"

  val all: Seq[QueryDef] = Seq(
    // S1 + S5: schema-less CSV write → positional read → typed agg
    QueryDef(
      "csv_roundtrip",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_csv_rt")
      Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").option("header", "false").csv(tmp)
      Tables.csvPositional(s, tmp)
        .groupBy(col("_c2").as("l_returnflag"))
        .agg(
          sum(col("_c1").cast("double").cast(dec)).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    },
    // S2 + S5: key TAB value write → KeyValueText read → keyed agg (the
    // merge-join fixture wire format, MergeJoin.java:35,225)
    QueryDef(
      "kv_roundtrip",
      """SELECT o_orderpriority AS priority, count(*) AS n, min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_kv_rt")
      Tables.writeKeyTab(
        Tables.table(s, d, "orders").select(col("o_orderpriority"), col("o_orderkey")),
        tmp)
      Tables.keyValueText(s, tmp)
        .groupBy(col("key").as("priority"))
        .agg(count(lit(1)).as("n"), min(col("value").cast("long")).as("min_key"))
    },
    // the same key⇥value data through the first-class DataSource V2
    // connector (sources.KvDataSource): the EqualTo filter and the
    // 2-column projection are PUSHED into the partition reader —
    // evaluated on raw line slices before row materialization
    // (ScaleSpec pins PushedFilters + the pruned ReadSchema); the CSV
    // route (`kv_roundtrip`) filters above its scan
    QueryDef(
      "kv_roundtrip_dsv2",
      """SELECT o_orderpriority AS priority, count(*) AS n, min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderpriority = '2-HIGH' GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_kv_rt_v2")
      Tables.writeKeyTab(
        Tables.table(s, d, "orders").select(col("o_orderpriority"), col("o_orderkey")),
        tmp)
      s.read.format("graft-kv").load(tmp)
        .filter(col("key") === "2-HIGH")
        .groupBy(col("key").as("priority"))
        .agg(count(lit(1)).as("n"), min(col("value").cast("long")).as("min_key"))
    },
    // SequenceFile<Text,Text> round-trip — the reference's ACTUAL
    // intermediate format (MergeJoin.java:118-119), not the parquet
    // stage replacement: write through the Hadoop sequence-file sink,
    // read back with sc.sequenceFile, aggregate. The oracle computes
    // the same aggregate from the parquet table, so the round-trip must
    // be lossless end-to-end.
    QueryDef(
      "seqfile_roundtrip",
      """SELECT o_orderpriority AS priority, count(*) AS n, min(o_orderkey) AS min_key
        |FROM orders GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      // process-scoped unique dir: a shared fixed path races when two
      // harness processes (Verify ∥ Bench, parallel test JVMs) overlap,
      // and scratchDir also bounds accumulation across invocations
      val tmp = Tables.scratchDir("graft_seq_rt")
      Tables.writeSequenceFile(
        Tables.table(s, d, "orders").select(col("o_orderpriority"), col("o_orderkey")),
        tmp)
      Tables.sequenceFileKV(s, tmp)
        .groupBy(col("key").as("priority"))
        .agg(count(lit(1)).as("n"), min(col("value").cast("long")).as("min_key"))
    },
    // Hive-style partitioned layout round-trip: write partitioned by
    // year, read back with a partition predicate — the scan must prune
    // to one directory (PartitionFilters; asserted in ScaleSpec). At
    // 100 TB this layout is what turns a full-table scan into a
    // single-partition read.
    QueryDef(
      "partitioned_roundtrip",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_part_rt")
      val orders = Tables.table(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
      orders.write.mode("overwrite").partitionBy("o_year").parquet(tmp)
      // partition columns come back last: the written schema is the
      // read-back schema (see join_dpp)
      Tables.readStage(s, tmp, orders.schema)
        .filter(col("o_year") === 1997)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
    },
    // JSON-lines round-trip: third wire format (after CSV and key-TAB)
    // — write ndjson, read back schema-inferred, aggregate vs parquet
    QueryDef(
      "json_roundtrip",
      """SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_key
        |FROM customer GROUP BY c_mktsegment""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_json_rt")
      Tables.table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").json(tmp)
      s.read.json(tmp)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_key"))
    },
    // schema evolution: two parquet batches with different column sets
    // (an old writer without `lang`, a new writer with it) read back
    // through mergeSchema — the lake-format reality at 100 TB, where a
    // table's files span schema versions. Missing columns surface as
    // NULL; the oracle reproduces the per-batch nullability.
    QueryDef(
      "schema_evolution_roundtrip",
      """SELECT source,
        |  count(*) AS n,
        |  count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS n_old_writer,
        |  count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_lang
        |FROM documents GROUP BY source""".stripMargin) { (s, d) =>
      // process-scoped unique dir — same race class as seqfile_roundtrip
      val tmp = Tables.scratchDir("graft_schema_evo")
      val docs = Tables.table(s, d, "documents")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$tmp/b=0")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/b=1")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/b=0", s"$tmp/b=1")
        .groupBy("source")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("doc_id") % 2 === 0, 1)).as("n_old_writer"),
          count(when(col("doc_id") % 2 === 1, col("lang"))).as("n_lang"))
    },
    // binaryFile-source ingest — the real multimodal ingestion path:
    // one opaque blob file per document (written distributed,
    // partition-local IO), read back through Spark's `binaryFile`
    // source with doc identity recovered from the path and content
    // fingerprinted in-engine. The oracle fingerprints the same bytes
    // from the parquet text column, so the file round-trip must be
    // byte-lossless. (On a cluster the write targets shared storage;
    // the dataflow is identical.)
    QueryDef(
      "media_binary_ingest",
      """SELECT doc_id, md5(text) AS content_md5,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE text IS NOT NULL""".stripMargin) { (s, d) =>
      val tmp = Tables.scratchDir("graft_binfiles")
      new java.io.File(tmp).mkdirs()
      // null-text docs have no payload to land as a file — both sides
      // skip them explicitly (an unguarded getString would NPE the task)
      Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .filter(col("text").isNotNull)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"${r.getLong(0)}.bin"),
              r.getString(1).getBytes("UTF-8")): Unit
          }
        }
      // materialize the binaryFile scan, then delete the blob dir
      // EAGERLY (VERDICT r11 #4): the query used to return a lazy scan
      // over its scratch files, so every run left ~|documents| small
      // files in /tmp until the NEXT run's scratchDir reap — and the
      // floor tracked /tmp's accumulated dirent count instead of the
      // engine. The checkpoint pins the result rows; the files are
      // dead weight the moment it lands.
      val (out, _, _) = graft.operators.Iterate.ckpt(
        s.read.format("binaryFile").load(tmp)
          .select(
            regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("doc_id"),
            md5(col("content")).as("content_md5"),
            length(col("content")).cast("long").as("n_bytes")))
      Tables.deleteRecursive(tmp)
      out
    },
    // deterministic hash-mod sampling — reproducible corpus subsetting
    // (multiplicative hashing, same integer arithmetic in both engines)
    QueryDef(
      "sample_deterministic",
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE (l_orderkey * 2654435761) % 4294967296 % 100 < 10""".stripMargin) { (s, d) =>
      // CorpusOps.sampleBucket: overflow-free all-long split arithmetic
      // (equal to the oracle's widening multiply for any nonneg key)
      Tables.table(s, d, "lineitem")
        .filter(graft.operators.CorpusOps.sampleBucket(col("l_orderkey")) < 10)
        .select(col("l_orderkey"), col("l_linenumber"))
    }
  )
}
