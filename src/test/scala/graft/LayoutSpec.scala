package graft

import graft.operators.{Changelog, IndexManifest, Layout}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Layout-management efficiency claims: compaction actually reduces file
  * counts to the size target, and range clustering actually produces
  * skippable (disjoint-range) files. Content parity for the same
  * operators is the LayoutQueries oracle gate.
  */
class LayoutSpec extends SparkSpec {

  test("compact folds 64 ingest files into the size-targeted count") {
    val in = Tables.scratchDir("spec_compact_in")
    val out = Tables.scratchDir("spec_compact_out")
    Tables.table(spark, sf, "events")
      .select(col("event_id"), col("event_type"), col("value"))
      .repartition(64)
      .write.mode("overwrite").parquet(in)
    assert(Layout.dataFiles(in).size == 64)
    val planned = Layout.compact(spark, in, out, targetFileBytes = 32L * 1024 * 1024)
    val got = Layout.dataFiles(out).size
    assert(got == planned, s"planned $planned files, wrote $got")
    assert(got < 64 && got >= 1)
    // ceil(bytes/target) honors the target: one more file would mean
    // some file had to exceed targetFileBytes on average
    assert(planned == math.max(1L,
      (Layout.dataBytes(in) + 32L * 1024 * 1024 - 1) / (32L * 1024 * 1024)).toInt)
    Tables.deleteRecursive(in); Tables.deleteRecursive(out)
  }

  test("compactPartitioned folds appended delta files; served verdicts unchanged") {
    import graft.operators.Dedup
    // build → append → (serve) → compact → (serve): the LSM lifecycle
    // over the stored dedup index. Pins (a) the append actually leaves
    // multi-file partitions, (b) compaction brings every partition
    // back to one data file without touching cold partitions' content,
    // (c) the served gate verdicts are IDENTICAL pre/post compaction.
    val docs = Tables.table(spark, sf, "documents")
    val idx = Tables.scratchDir("spec_idx_compact")
    Dedup.writeIncrementalIndex(
      docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 5 =!= 1),
      col("text"), col("doc_id"), idx)
    Dedup.appendToIncrementalIndex(idx,
      docs.filter(col("doc_id") % 5 === 1), col("text"), col("doc_id"))
    def filesPerPartition(sub: String): Map[String, Int] =
      Layout.dataFiles(s"$idx/$sub").groupBy(_.getParentFile.getPath)
        .map { case (d, fs) => d -> fs.size }
    val before = filesPerPartition("bands") ++ filesPerPartition("shingles")
    assert(before.values.exists(_ > 1),
      "append should leave at least one multi-file partition")
    val delta2 = docs.filter(col("doc_id") % 5 === 0)
    val pre = Dedup.incrementalDedupStored(idx, delta2, col("text"), col("doc_id"))
      .collect().map(_.toSeq).toSet
    val rewritten = Dedup.compactIncrementalIndex(spark, idx)
    assert(rewritten == before.values.count(_ > 1),
      "compaction must rewrite exactly the multi-file partitions")
    val after = filesPerPartition("bands") ++ filesPerPartition("shingles")
    assert(after.values.forall(_ == 1),
      s"every partition should hold one data file post-compact: $after")
    assert(after.keySet == before.keySet, "partition dirs must be preserved")
    val post = Dedup.incrementalDedupStored(idx, delta2, col("text"), col("doc_id"))
      .collect().map(_.toSeq).toSet
    assert(post == pre, "served verdicts changed across compaction")
    assert(pre.nonEmpty, "gate should find planted near-dups")
    // idempotence: a second compact is a no-op
    assert(Dedup.compactIncrementalIndex(spark, idx) == 0)
    Tables.deleteRecursive(idx)
  }

  test("range-clustered files cover pairwise-disjoint key ranges") {
    val out = Tables.scratchDir("spec_range_cluster")
    Layout.rangeClusteredWrite(
      Tables.table(spark, sf, "orders").select(col("o_orderkey"), col("o_totalprice")),
      "o_orderkey", numFiles = 8, outDir = out)
    val files = Layout.dataFiles(out).map(_.getPath).sorted
    assert(files.size >= 4, s"expected multiple clustered files, got ${files.size}")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"overlapping file ranges: hi=$hi lo2=$lo2")
      case _ =>
    }
    Tables.deleteRecursive(out)
  }

  test("z-order files prune a 2-D box better than 1-D clustering's second dimension") {
    val src = Tables.table(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val zDir = Tables.scratchDir("spec_zorder")
    val rDir = Tables.scratchDir("spec_zorder_1d")
    Layout.zorderClusteredWrite(src, "o_custkey", "o_totalprice", 16, zDir)
    Layout.rangeClusteredWrite(src, "o_custkey", 16, rDir)

    // per-file [min,max] of a column, from the written files themselves
    def ranges(dir: String, c: String): Seq[(Double, Double)] =
      Layout.dataFiles(dir).map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min(col(c).cast("double")), max(col(c).cast("double"))).head()
        (r.getDouble(0), r.getDouble(1))
      }
    def overlaps(rs: Seq[(Double, Double)], lo: Double, hi: Double): Int =
      rs.count { case (mn, mx) => mx >= lo && mn <= hi }

    // a PRICE-ONLY predicate: 1-D custkey clustering cannot skip any
    // file for it, z-order must skip most
    val zPrice = overlaps(ranges(zDir, "o_totalprice"), 50000, 100000)
    val rPrice = overlaps(ranges(rDir, "o_totalprice"), 50000, 100000)
    val zFiles = Layout.dataFiles(zDir).size
    assert(rPrice >= 15, s"1-D layout unexpectedly skips price files ($rPrice)")
    assert(zPrice <= zFiles / 2,
      s"z-order should skip most files for a price slab: $zPrice of $zFiles overlap")
    // and the first dimension still prunes: a narrow custkey slab
    // touches a minority of z-ordered files
    val custHi = src.agg(max("o_custkey")).head().getLong(0).toDouble
    val zCust = overlaps(ranges(zDir, "o_custkey"), 1, custHi / 8)
    assert(zCust <= zFiles / 2,
      s"z-order should prune a custkey slab too: $zCust of $zFiles overlap")
    Tables.deleteRecursive(zDir); Tables.deleteRecursive(rDir)
  }

  test("cdc latest snapshot drops tombstoned keys and keeps max seq") {
    import spark.implicits._
    val ch = Seq(
      (1L, 10L, "U", "signup", 1.0),
      (1L, 20L, "U", "click", 2.0),
      (2L, 11L, "U", "view", 3.0),
      (2L, 30L, "D", "error", 4.0),
      (3L, 5L, "D", "error", 5.0),
      (3L, 6L, "U", "view", 6.0)
    ).toDF("key", "seq", "op", "attr", "amount")
    val snap = Changelog.latestSnapshot(ch)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(snap.toSeq == Seq((1L, 20L, "click"), (3L, 6L, "view")))
  }

  test("scd2 history closes versions in sequence order") {
    import spark.implicits._
    val ch = Seq(
      (1L, 10L, "U", "signup", 1.0),
      (1L, 20L, "U", "click", 2.0),
      (1L, 30L, "D", "error", 3.0)
    ).toDF("key", "seq", "op", "attr", "amount")
    val hist = Changelog.scd2History(ch).orderBy("valid_from")
      .collect()
      .map(r => (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(6)))
    assert(hist.toSeq == Seq(
      (10L, Some(20L), false), (20L, Some(30L), false), (30L, None, false)))
  }

  test("index manifest: round trip, refused formats and schemes name the file, invisible to dataBytes") {
    import java.nio.file.Files
    val idx = Tables.scratchDir("spec_manifest")
    IndexManifest.write(idx, IndexManifest.IvfPq, Map("m" -> 8L, "big" -> (1L << 40)))
    val m = IndexManifest.read(s"file:$idx", IndexManifest.IvfPq)
    assert(m.int("m") == 8 && m.long("big") == (1L << 40) && m.fields.size == 2)
    assert(intercept[IllegalStateException](m.long("absent")).getMessage.contains("absent"))
    assert(intercept[ArithmeticException](m.int("big")) != null)
    val f = IndexManifest.file(idx)
    assert(new java.io.File(idx).list().toSeq == Seq(f.getFileName.toString),
      "the commit leaves no temp file behind")
    assert(Layout.dataBytes(idx) == 0L)
    Files.write(f, "{\"format\":2,\"family\":\"ivfpq\",\"fields\":{}}".getBytes("UTF-8"))
    val format = intercept[IllegalArgumentException](IndexManifest.read(idx, IndexManifest.IvfPq))
    assert(format.getMessage.contains(f.toString) && format.getMessage.contains("format"))
    Files.write(f, Array[Byte](1, 2, 3))
    val garbled = intercept[IllegalArgumentException](IndexManifest.read(idx, IndexManifest.IvfPq))
    assert(garbled.getMessage.contains(f.toString))
    val remote = intercept[UnsupportedOperationException](
      IndexManifest.read("s3://bucket/idx", IndexManifest.IvfPq))
    assert(remote.getMessage.contains("s3://bucket/idx"))
    Tables.deleteRecursive(idx)
  }
}
