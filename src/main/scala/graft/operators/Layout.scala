package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data-layout management — the operators that keep a 100 TB
  * parquet lake scannable. The reference (a MapReduce join harness)
  * inherits whatever file layout its generators produce; at scale the
  * layout IS a query-performance feature: small-file compaction keeps
  * task counts sane and range clustering turns selective scans into
  * file-level skips (parquet min/max footer pruning).
  */
object Layout {

  /** Total on-disk bytes of the data files under `dir` (recursive,
    * ignores _SUCCESS/metadata dot-files). Driver-side listing is the
    * right tool: it is O(#files) metadata, not data. */
  def dataBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else f.length()
    walk(new java.io.File(dir))
  }

  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Seq.empty
      else Seq(f)
    walk(new java.io.File(dir))
  }

  /** Compact a directory of (typically many small) parquet files into
    * ceil(totalBytes / targetFileBytes) files. The repartition is a
    * round-robin shuffle — one pass over the data, no key required; at
    * cluster scale this is the maintenance job that follows streaming
    * ingest (thousands of per-batch files → a handful of scan-efficient
    * ones). Returns the compacted file count. */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long): Int = {
    val n = math.max(1L, (dataBytes(inDir) + targetFileBytes - 1) / targetFileBytes).toInt
    spark.read.parquet(inDir)
      .repartition(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  /** Compact a `partitionBy`-laid-out parquet table IN PLACE — the
    * LSM maintenance verb for the stored index layouts
    * ([[Dedup.writeIncrementalIndex]]'s bands/shingles,
    * [[Similarity.writeIvfIndex]]'s cid lists): each append drops new
    * small files into existing partition dirs, and an index that only
    * ever appends degrades into a small-file storm. This rewrites ONLY
    * the partitions holding more than `maxFilesPerPartition` data
    * files (one filtered scan with partition pruning — cold partitions
    * are never read), one output file per partition (the repartition
    * on the partition keys puts each key in exactly one task), then
    * swaps each compacted partition dir in with metadata-only renames
    * (FileSystem.rename at cluster scale). Readers between swaps see
    * either the old or the new file set of a partition — both hold the
    * identical rows, so served results are unchanged (LayoutSpec +
    * the dedup_index_append gate pin this). Driver-side dir listing is
    * bounded by the layout's partition fan-out — configuration, not
    * data. Returns the number of partitions rewritten. */
  /** `key=value` partition leaf dirs `depth` levels under `f`. */
  def partitionLeaves(f: java.io.File, depth: Int): Seq[java.io.File] =
    if (depth == 0) Seq(f)
    else Option(f.listFiles()).getOrElse(Array.empty).toSeq
      .filter(c => c.isDirectory && c.getName.contains("="))
      .flatMap(partitionLeaves(_, depth - 1))

  /** Swap every partition leaf dir present under `tmpDir` in over its
    * counterpart under `dir` — metadata-only renames (FileSystem.rename
    * at cluster scale); partitions absent from `tmpDir` are untouched.
    * Readers between swaps see either the old or the new file set of a
    * partition, never a mix. Shared by [[compactPartitioned]] and the
    * pruned-rewrite maintenance verbs
    * ([[Similarity.pruneKnnGraphIndex]]). */
  def swapPartitionLeaves(dir: String, tmpDir: String, depth: Int): Unit = {
    val root = new java.io.File(dir)
    val tmpRoot = new java.io.File(tmpDir)
    for (leaf <- partitionLeaves(tmpRoot, depth)) {
      val target = new java.io.File(root,
        tmpRoot.toPath.relativize(leaf.toPath).toString)
      graft.sources.Tables.deleteRecursive(target.getPath)
      if (!target.getParentFile.exists()) target.getParentFile.mkdirs(): Unit
      require(leaf.renameTo(target), s"partition swap failed: $leaf -> $target")
    }
  }

  /** DISTINCT-rewrite a partitionBy-laid-out store in place — the
    * shared REPAIR verb for replayed index appends (ADVICE r8): a
    * blind retry of an append whose completion signal was lost lands
    * the same rows twice, and every stored-index row set here is
    * duplicate-free by construction, so `distinct` restores the exact
    * single-applied state. Full rewrite by design — this is the
    * rare-path recovery verb, not maintenance (that is
    * [[compactPartitioned]]). */
  def distinctRewrite(spark: SparkSession, dir: String,
      partCol: String): Unit =
    distinctRewrite(spark, dir, Seq(partCol))

  def distinctRewrite(spark: SparkSession, dir: String,
      partCols: Seq[String]): Unit = {
    val tmp = dir + ".__repair"
    val old = dir + ".__old"
    // recover a previous crash mid-swap (ADVICE r9): if the live dir is
    // gone but the retired copy survives, restore it — every state of
    // the sequence below leaves at least one complete row set on disk
    if (!new java.io.File(dir).exists() && new java.io.File(old).exists())
      require(new java.io.File(old).renameTo(new java.io.File(dir)),
        s"repair recovery failed: $old -> $dir")
    graft.sources.Tables.deleteRecursive(tmp)
    graft.sources.Tables.deleteRecursive(old)
    spark.read.parquet(dir).distinct()
      .repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
    // retire-then-swap, never delete-then-swap: a crash between the two
    // renames leaves the full old store under `.__old` (recovered by the
    // next invocation above) instead of stranding the data with no live
    // dir — this verb exists FOR durability recovery, so it must not
    // manufacture the very state it repairs
    require(new java.io.File(dir).renameTo(new java.io.File(old)),
      s"repair retire failed: $dir -> $old")
    require(new java.io.File(tmp).renameTo(new java.io.File(dir)),
      s"repair swap failed: $tmp -> $dir")
    graft.sources.Tables.deleteRecursive(old)
  }

  def compactPartitioned(spark: SparkSession, dir: String,
      partCols: Seq[String], maxFilesPerPartition: Int = 1): Int = {
    val root = new java.io.File(dir)
    def leaves(f: java.io.File, depth: Int): Seq[java.io.File] =
      partitionLeaves(f, depth)
    val hot = leaves(root, partCols.length).filter { l =>
      Option(l.listFiles()).getOrElse(Array.empty).count(f =>
        f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) >
        maxFilesPerPartition
    }
    if (hot.isEmpty) return 0
    val tmp = dir + ".__compact"
    graft.sources.Tables.deleteRecursive(tmp)
    spark.read.option("basePath", dir).parquet(hot.map(_.getPath): _*)
      .repartition(partCols.map(col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
    swapPartitionLeaves(dir, tmp, partCols.length)
    graft.sources.Tables.deleteRecursive(tmp)
    hot.size
  }

  /** Range-clustered write: globally range-partition on `clusterCol`
    * and sort within partitions, so each output file covers a disjoint
    * value range and carries tight parquet min/max footer stats. A
    * selective predicate on the cluster column then prunes whole files
    * (row-group skipping) instead of scanning everything — the
    * single-dimension form of Z-ordering. */
  def rangeClusteredWrite(df: DataFrame, clusterCol: String, numFiles: Int,
      outDir: String): Unit =
    df.repartitionByRange(numFiles, col(clusterCol))
      .sortWithinPartitions(clusterCol)
      .write.mode("overwrite").parquet(outDir)

  /** Morton/Z-value of two numeric columns, `bits` bits each: both are
    * min-max normalized to [0, 2^bits) integer grid cells (the mins and
    * maxes computed in the same pass, broadcast back as a 1-row join —
    * never collected) and their bits interleaved, `a` taking the odd
    * (higher) positions. The expression tree is 2·bits shift-and-mask
    * terms — fully codegen'd, no UDF. */
  def zValue(a: Column, b: Column, aMin: Column, aMax: Column,
      bMin: Column, bMax: Column, bits: Int = 16): Column = {
    val top = (1L << bits) - 1
    def cell(v: Column, lo: Column, hi: Column): Column =
      least(lit(top), floor(
        (v.cast("double") - lo.cast("double")) /
          ((hi.cast("double") - lo.cast("double")) + lit(1e-12)) * (1L << bits))
        .cast("long"))
    val ca = cell(a, aMin, aMax)
    val cb = cell(b, bMin, bMax)
    (0 until bits).map { i =>
      (shiftleft(shiftright(ca, i).bitwiseAND(1L), 2 * i + 1))
        .bitwiseOR(shiftleft(shiftright(cb, i).bitwiseAND(1L), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered write on TWO dimensions: range-partition + sort
    * by the interleaved Morton value, so every output file covers a
    * small axis-aligned box in (dimA, dimB) space and parquet min/max
    * footers prune files for selective predicates on EITHER column (or
    * both) — what 1-D range clustering cannot give the second
    * dimension. This is the layout Delta's OPTIMIZE ZORDER BY and
    * Iceberg's sort-order rewrite maintain at lake scale. */
  def zorderClusteredWrite(df: DataFrame, colA: String, colB: String,
      numFiles: Int, outDir: String, bits: Int = 16): Unit = {
    val bounds = df.agg(
      min(col(colA)).as("a_min"), max(col(colA)).as("a_max"),
      min(col(colB)).as("b_min"), max(col(colB)).as("b_max"))
    df.join(broadcast(bounds), lit(true))
      .withColumn("__z", zValue(col(colA), col(colB),
        col("a_min"), col("a_max"), col("b_min"), col("b_max"), bits))
      .drop("a_min", "a_max", "b_min", "b_max")
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }
}

/** A stored index's parameters (bucket counts, shingling contract,
  * staleness epochs): one JSON manifest per index root,
  * `{"format":1,"family":…,"fields":{name: long, …}}`. A read runs no
  * Spark job and fails, naming the file, when the manifest is missing,
  * of an unknown format or of another family. A write commits by rename
  * (temp file, forced, atomically moved over): a crash leaves the old
  * or the new manifest, and a hardlinked copy
  * ([[graft.sources.Tables.linkCopyDirectory]]) never changes its
  * source's. The leading `_` keeps it out of Spark's listings.
  * Local file systems only, like the staleness probes: another URI
  * scheme (hdfs://, s3://) fails closed; an object store would need a
  * conditional put in place of the rename. */
object IndexManifest {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
  import scala.jdk.CollectionConverters._

  val Tfidf = "tfidf"
  val IvfPq = "ivfpq"
  val KnnGraph = "knn-graph"
  val DedupLsh = "dedup-lsh"
  val Winnow = "winnow"

  private val FileName = "_graft_index.json"
  private val Format = 1
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A read manifest; `file` is where it came from, for messages. */
  final case class Manifest(file: Path, fields: Map[String, Long]) {
    def long(name: String): Long = fields.getOrElse(name,
      throw new IllegalStateException(s"index manifest $file has no field $name"))
    def int(name: String): Int = Math.toIntExact(long(name))
  }

  /** The manifest file of the index rooted at `path`. */
  def file(path: String): Path = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    if (uri.getScheme != null && uri.getScheme != "file")
      throw new UnsupportedOperationException(s"index manifest of $path: not a local file system")
    Paths.get(uri.getPath).resolve(FileName)
  }

  def write(path: String, family: String, fields: Map[String, Long]): Unit = {
    val target = file(path)
    val bytes = mapper.writeValueAsBytes(Map[String, AnyRef]("format" -> Int.box(Format),
      "family" -> family, "fields" -> fields.map { case (k, v) => k -> Long.box(v) }.asJava).asJava)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s"$FileName.${java.util.UUID.randomUUID()}.tmp")
    try {
      val ch = java.nio.channels.FileChannel.open(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      Files.move(tmp, target,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp): Unit
  }

  def read(path: String, family: String): Manifest = {
    val f = file(path)
    require(Files.isRegularFile(f),
      s"no index manifest at $f: not a stored index, or one of an older layout (rebuild it)")
    val json = try mapper.readTree(f.toFile) catch {
      case _: com.fasterxml.jackson.core.JsonProcessingException => mapper.missingNode()
    }
    val format = json.path("format")
    require(format.isInt && format.intValue == Format, s"index manifest $f has unknown format '$format'")
    val got = json.path("family").asText("")
    require(got == family, s"index manifest $f is a $got index, not $family")
    val fields = json.path("fields").properties().asScala.map(e => e.getKey -> e.getValue).toMap
    require(fields.values.forall(v => v.isIntegralNumber && v.canConvertToLong),
      s"index manifest $f has a field that is not a long")
    Manifest(f, fields.map { case (k, v) => k -> v.longValue })
  }
}
