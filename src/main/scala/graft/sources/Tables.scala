package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table loaders / sinks covering the reference's source-sink surface
  * (SURVEY §2.1 S1-S6):
  *
  *  - S1 CSV text scan (TextInputFormat line reads,
  *    RepartitionJoin.java:115-116) → `csvPositional`
  *  - S2 key-value text scan (KeyValueTextInputFormat, MergeJoin.java:88)
  *    → `keyValueText`
  *  - S3 SequenceFile intermediates (MergeJoin.java:118-119) → parquet
  *    intermediates (`writeStage`/`readStage`) — Spark-idiomatic binary
  *    columnar stage format
  *  - S5 text sink `key TAB l,r` (RepartitionJoin.java:117) →
  *    `writeKeyTab`
  *  - S6 temp management → `deleteRecursive`
  *
  * Driver testdata is parquet (TESTDATA.md) → `table`.
  */
object Tables {

  /** S1: schema-less positional CSV — columns come back as `_c0.._cN`
    * StringType, matching the reference's untyped `split(",")[i]` row
    * model (KeyExtractor.java:14). Accepts a file or a directory of part
    * files (BroadcastJoin.java:76-91 iterates dirs the same way). */
  def csvPositional(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "false").option("inferSchema", "false").csv(path)

  /** S2: tab-separated `key TAB value` lines (KeyValueTextInputFormat
    * shape, MergeJoin.java:170-171) → DataFrame(key, value). The key is
    * the KV key, NOT a re-parse of the value (FIXTURES.md merge_join
    * t2.txt keys 90-92 encode exactly this distinction). */
  def keyValueText(spark: SparkSession, path: String, sep: String = "\t"): DataFrame =
    spark.read
      .option("header", "false")
      .option("sep", sep)
      .option("inferSchema", "false")
      .csv(path)
      .toDF("key", "value")

  /** Engine-wide event-time contract: `ts` is epoch-NANOS LongType.
    * The driver testdata has shipped it as both TIMESTAMP(NANOS) (read
    * as long via `nanosAsLong`) and plain TIMESTAMP_NTZ micros — this
    * normalizer accepts either physical encoding and emits the one
    * canonical form, so every downstream `ts div 1000` (micros grain)
    * keeps working unchanged. The timestamp→epoch conversion assumes
    * the UTC session timezone every graft session sets (a naive NTZ
    * value then maps to the same epoch DuckDB's `epoch_us`/`epoch_ns`
    * computes, at either source grain). */
  def withNanosTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) | None => df
      case Some(_) =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast("timestamp")) * lit(1000L)).as("ts"))
    }

  /** Driver-testdata parquet table: `table(spark, dir, "lineitem")`.
    *
    * `nanosAsLong` keeps a TIMESTAMP(NANOS) `events.ts` readable (Spark
    * 4 has no nanosecond timestamp type and rejects it by default);
    * [[withNanosTs]] then canonicalizes whatever encoding arrived. The
    * read is given the file's memoized raw schema ([[schemaOf]]), so it
    * starts no schema-inference job once that file version is known. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    withNanosTs(memoSchema(spark, sfDir, name).fold(spark.read)(spark.read.schema)
      .parquet(s"$sfDir/$name.parquet"))
  }

  /** The RAW schema of `$sfDir/$name.parquet`, as `spark.read.parquet`
    * infers it under the session's current settings (before
    * [[withNanosTs]]) — for readers that need the driver file's own
    * encoding, such as a streaming source over the same file. */
  def schemaOf(spark: SparkSession, sfDir: String, name: String): StructType =
    memoSchema(spark, sfDir, name).getOrElse(inferSchema(spark, sfDir, name))

  /** The one schema-inference read of a testdata table. */
  private def inferSchema(spark: SparkSession, sfDir: String, name: String): StructType =
    spark.read.parquet(s"$sfDir/$name.parquet").schema

  /** The session confs that change the type parquet inference gives a
    * column; their values are part of a memo key. */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** (length, mtime, file key) of a file version. */
  private type Stamp = (Long, Long, Option[String])
  private type Entry = (Stamp, StructType)

  /** (canonical path, [[SchemaConfs]] values) → (file stamp, schema).
    * A schema is session metadata, like a catalog table's stored
    * schema, not a result: every query still scans its rows. The stamp
    * is length, mtime and, on a local file system, the file key (inode),
    * so a rewritten file is inferred again and replaces its entry; the
    * memo holds one entry per file and conf combination in use. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), Entry]()

  /** Memoized inferred schema of a single parquet file; `None` for a
    * directory, which is read (and inferred) as before. The inference
    * job runs outside the map's locks: two threads may both infer a new
    * file, and `merge` keeps the first entry for that stamp. */
  private def memoSchema(spark: SparkSession, sfDir: String, name: String): Option[StructType] = {
    val p = new Path(s"$sfDir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a missing path is left to the read, which fails as it always did
    val status = try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile).map { st =>
      val (canon, fileKey) =
        if (fs.getScheme != "file") (st.getPath.toString, None)
        else {
          val real = java.nio.file.Paths.get(st.getPath.toUri).toRealPath()
          (real.toString, Option(java.nio.file.Files.readAttributes(real,
            classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).map(_.toString))
        }
      val stamp: Stamp = (st.getLen, st.getModificationTime, fileKey)
      val key = (canon, SchemaConfs.map(spark.conf.getOption(_).getOrElse("")))
      Option(schemas.get(key)).filter(_._1 == stamp).getOrElse {
        val inferred: Entry = (stamp, inferSchema(spark, sfDir, name))
        schemas.merge(key, inferred, (old: Entry, neu: Entry) => if (old._1 == stamp) old else neu)
      }._2
    }
  }

  /** S5: the reference's text sink — `key TAB leftRow,rightRow` lines
    * (RepartitionJoin.java:80, BroadcastJoin.java:112). Expects a
    * DataFrame whose first column is the key and remaining columns are
    * pre-concatenated row text. */
  def writeKeyTab(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").csv(path)

  /** S3: stage materialization between decomposed join phases — the
    * Spark-idiomatic replacement for the reference's SequenceFile
    * intermediates (MergeJoin.java:118-119,204-205). Parquet keeps
    * column pruning + predicate pushdown available to downstream stages,
    * which SequenceFiles never could. */
  def writeStage(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  def readStage(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** [[readStage]] of a stage just written from a frame of `schema`:
    * given that schema (nullable, as parquet reads every column back),
    * the read starts no schema-inference job. */
  def readStage(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(StructType(schema.map(_.copy(nullable = true)))).parquet(path)

  /** S3 interop: genuine Hadoop SequenceFile<Text,Text> write/read for
    * exchanging intermediates with the reference's own pipelines
    * (MergeJoin.java:118-119 SequenceFileOutputFormat). The parquet
    * stage format above remains the recommended intermediate — this is
    * the compatibility bridge. RDD API is the right tool here: Spark
    * has no DataFrame-level SequenceFile source, and the conversion is
    * a per-partition record copy, not driver-side. */
  def writeSequenceFile(df: DataFrame, path: String): Unit = {
    deleteRecursive(path)
    df.select(col(df.columns(0)).cast("string"), col(df.columns(1)).cast("string"))
      .rdd.map(r => (r.getString(0), r.getString(1)))
      .saveAsSequenceFile(path)
  }

  def sequenceFileKV(spark: SparkSession, path: String): DataFrame = {
    val sq = spark
    import sq.implicits._
    spark.sparkContext.sequenceFile[String, String](path).toDF("key", "value")
  }

  /** Process-unique scratch directory path under java.io.tmpdir, with
    * bounded accumulation: this PROCESS's previous dirs for the same
    * prefix are deleted first (safe — harness invocations within a
    * process are sequential and fully consume their outputs), and so
    * are DEAD processes' dirs for the same prefix (VERDICT r11 #4:
    * every JVM gets a fresh pid, so same-pid-only reaping let each
    * bench/verify run's leftovers accumulate in /tmp forever — the
    * `media_binary_ingest` floor tracked that small-file count).
    * LIVE foreign pids are never touched, so concurrent Verify ∥
    * Bench ∥ test JVMs cannot race each other's files. */
  def scratchDir(prefix: String): String = {
    val pid = ProcessHandle.current().pid()
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val owned = s"${prefix}_p(\\d+)_.*".r
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .foreach { f =>
        f.getName match {
          case owned(p) if p.toLong == pid ||
              !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive).orElse(false) =>
            deleteRecursive(f.getPath)
          case _ => ()
        }
      }
    s"${tmp.getPath}/${prefix}_p${pid}_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Completion marker of a [[stampedFixture]] dir. */
  private val ReadyMarker = "_GRAFT_READY"

  /** Layout version in every [[stampedFixture]] key: bumping it rebuilds
    * every fixture once. 2: stored indexes carry an IndexManifest. */
  private val FixtureLayout = 2

  /** Source-stamped fixture under java.io.tmpdir: an artifact (arrival
    * slices, a stored index) derived from `$sfDir/$table.parquet` and
    * built once per version of that file. The dir is
    * `name(key)`, key = the first 12 hex chars of
    * MD5(`sfDir|length_mtime|layout`), so regenerated testdata (same
    * path, new bytes) gets a new dir instead of a stale artifact; a
    * layout change bumps the name's prefix, or [[FixtureLayout]] for all.
    *
    * A dir holding the ready marker is returned as is. Otherwise the
    * dir is deleted, `build` writes it (the dir does not exist yet, so
    * ErrorIfExists writers work), and the marker is created. A build
    * that throws leaves no dir behind, and a build that brings its own
    * marker (say, a copied-in one) is rejected rather than served. */
  def stampedFixture(sfDir: String, table: String, name: String => String)
      (build: java.io.File => Unit): String = {
    val src = new java.io.File(s"$sfDir/$table.parquet")
    // File.length/lastModified return 0 for a missing file, which would
    // mint a valid-looking "0_0" key and defer the failure to an
    // obscure downstream read error
    require(src.exists(), s"fixture source does not exist: $src")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sfDir|${src.length()}_${src.lastModified()}|v$FixtureLayout".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val dir = new java.io.File(sys.props("java.io.tmpdir"), name(key))
    val ready = new java.io.File(dir, ReadyMarker)
    if (!ready.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      try {
        build(dir)
        require(dir.isDirectory, s"fixture build wrote nothing: $dir")
        require(ready.createNewFile(), s"fixture build left its own $ReadyMarker: $dir")
      } catch { case e: Throwable =>
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
        throw e
      }
    }
    dir.getPath
  }

  /** A fresh [[scratchDir]] holding a [[linkCopyDirectory]] clone of
    * `src` — the working copy an append lifecycle mutates while its
    * pristine fixture stays untouched. */
  def scratchCopy(prefix: String, src: String): String = {
    val dst = scratchDir(prefix)
    linkCopyDirectory(new java.io.File(src), new java.io.File(dst))
    dst
  }

  /** Hardlink clone of a directory tree: directories are created,
    * files are HARDLINKED (fallback to a real copy across devices).
    * A [[stampedFixture]]'s ready marker is not cloned: the copy is not
    * complete until its own owner says so.
    * Safe for immutable-file layouts — parquet indexes only ever ADD
    * files (append = new part files in existing partition dirs), so a
    * linked clone can be appended to without disturbing the source.
    * Hadoop rewrites its `_SUCCESS` marker (and checksum) in place on
    * append, so those are copied; any other rewrite must be a rename.
    * Exists for the verify harness's append-lifecycle queries, which
    * must mutate a FRESH copy each run to stay idempotent; production
    * appends to the live index and never clones (the reason this is
    * harness plumbing, not an operator). A file copy of a corpus-sized
    * index would be a driver-side corpus scan; a link walk is metadata
    * only. */
  private val CommitMarkers = Set("_SUCCESS", "._SUCCESS.crc")

  def linkCopyDirectory(src: java.io.File, dst: java.io.File): Unit = {
    import java.nio.file.{Files, Path}
    val sp = src.toPath
    val walk = Files.walk(sp) // Files.walk holds directory fds open until closed
    try walk.forEach { p: Path =>
      val t = dst.toPath.resolve(sp.relativize(p))
      if (Files.isDirectory(p)) { Files.createDirectories(t): Unit }
      else if (p.getFileName.toString != ReadyMarker) {
        Files.createDirectories(t.getParent)
        if (CommitMarkers(p.getFileName.toString)) Files.copy(p, t): Unit
        else try Files.createLink(t, p)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, t): Unit }
        ()
      }
    } finally walk.close()
  }

  /** S6: temp-dir lifecycle (MergeJoin.java:91-95,253-256). */
  def deleteRecursive(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val f = new java.io.File(path)
    if (f.exists()) rm(f)
  }

  /** P1/P2 key-extraction projection (KeyExtractor.java:12-26): given a
    * positional CSV DataFrame, produce (key, line) where key =
    * `split(line, ",")[idx]`, optionally parsed to long — exactly the
    * reference's two mapper variants. `line` is the re-assembled row. */
  def extractKey(df: DataFrame, idx: Int, numeric: Boolean): DataFrame = {
    val line = concat_ws(",", df.columns.map(col).toIndexedSeq: _*)
    val key0 = split(line, ",").getItem(idx)
    val key = if (numeric) key0.cast("long") else key0
    df.select(key.as("key"), line.as("value"))
  }
}
