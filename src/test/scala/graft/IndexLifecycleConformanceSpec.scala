package graft

import graft.operators.{Dedup, IndexManifest, Layout, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** ONE parametrized conformance battery driving every stored-index
  * family through the same lifecycle script (VERDICT r9 #8 — each
  * family's contract was previously pinned only by its own ad-hoc
  * specs, so the contracts could drift apart as families evolve):
  *
  *   build → append → [budget check] → TORN WRITE-RETRY (first store's
  *   rows landed twice, later stores single — the crash-between-stores
  *   state of a blind retry) → repair → serve ≡ single-applied →
  *   FULL blind replay (every store doubled) → repair → serve parity →
  *   maintenance verb on both sides → final serve parity.
  *
  * The retry is simulated at the STORAGE layer (re-landing the stored
  * rows verbatim), matching the failure mode the repair verbs own: a
  * write whose completion signal was lost and got retried — a
  * recomputed verb-level retry would, for the graph family, walk the
  * already-mutated graph (the BeamSearchSpec replay test's rationale,
  * shared here). Doubling a whole store is a SUPERSET of doubling one
  * batch's rows, so passing this repairs the weaker state too.
  *
  * Reference-side repairs run on the HEALTHY index: the parity check
  * then also pins that repair verbs are serve-preserving on an
  * undamaged index (modulo their documented statistics refresh, which
  * both sides get identically).
  */
class IndexLifecycleConformanceSpec extends SparkSpec {

  private def docs = Tables.table(spark, sf, "documents")
  private def emb = Tables.table(spark, sf, "embeddings")
  private def terms(filter: org.apache.spark.sql.Column) =
    docs.filter(filter).select(col("doc_id"),
      graft.functions.ShingleGenerator.shingles(col("text"), 3).as("t"))

  /** One stored-index family's lifecycle verbs, uniformly shaped. */
  private final case class Family(
      name: String,
      // the family its IndexManifest records
      manifest: String,
      build: String => Unit,
      append: String => Unit,
      // (subdir, partition cols) in the append's documented write order
      stores: Seq[(String, Seq[String])],
      repair: String => Unit,
      // one appended batch must trip the drift budget — families with
      // staleness counters only
      budgetTripped: Option[String => Boolean],
      maintain: String => Unit,
      serve: String => DataFrame)

  private val baseDoc = col("doc_id") % 5 < 3
  private val deltaDoc = col("doc_id") % 5 === 3
  private val probeDoc = col("doc_id") % 5 === 4
  private val baseVec = col("vec_id") % 5 < 3
  private val deltaVec = col("vec_id") % 5 === 3

  private def families: Seq[Family] = Seq(
    Family(
      name = "tfidf",
      manifest = IndexManifest.Tfidf,
      build = p => Similarity.writeTfidfIndex(terms(baseDoc), p),
      append = p => { Similarity.appendToTfidfIndex(p, terms(deltaDoc)): Unit },
      stores = Seq("tf" -> Seq("tb"), "postings" -> Seq("tb"),
        "vectors" -> Seq("db")),
      repair = p => Similarity.repairTfidfIndex(spark, p),
      budgetTripped = Some(p =>
        Similarity.tfidfStaleness(spark, p).growthPpm > 100000L),
      maintain = p => Similarity.refreshTfidfIndex(spark, p),
      serve = p => Similarity.tfidfCosinePairsStored(spark, p, threshold = 0.3)),
    Family(
      name = "graph-ann",
      manifest = IndexManifest.KnnGraph,
      // quantizer persisted (r12): appends region-seed their insertion
      // walks, and the maintenance verb below exercises the ENTRY
      // tier's refresh alongside the prune — both value-preserving
      // given identical inputs, which the serve-parity checks pin
      build = p => Similarity.writeKnnGraphIndex(
        Similarity.knnGraphExact(emb.filter(baseVec), col("embedding"),
          col("vec_id"), 8),
        emb.filter(baseVec), col("embedding"), col("vec_id"),
        Similarity.ivfAssignments(emb.filter(baseVec), col("embedding"),
          col("vec_id"), 8).groupBy("cid").agg(min(col("vid")).as("vid")),
        p,
        centroids = Similarity.firstNCentroids(emb.filter(baseVec),
          col("embedding"), col("vec_id"), 8)),
      append = p => { Similarity.appendToKnnGraphIndex(p,
        emb.filter(deltaVec), col("embedding"), col("vec_id"),
        kGraph = 8, nProbe = 4, beamWidth = 16, rounds = 4): Unit },
      stores = Seq("adj" -> Seq("sb"), "vectors" -> Seq("db")),
      repair = p => Similarity.repairKnnGraphIndex(spark, p),
      budgetTripped = Some(p => Similarity.knnGraphStaleness(spark, p)._3 > 100000L),
      maintain = p => {
        Similarity.pruneKnnGraphIndex(spark, p, 8): Unit
        Similarity.refreshKnnGraphEntries(spark, p, perRegion = 1): Unit
      },
      serve = p => Similarity.beamSearchKnnStored(p,
        emb.filter(col("vec_id") % 50 === 0), col("embedding"), col("vec_id"),
        k = 5, nProbe = 4, beamWidth = 16, rounds = 4)),
    Family(
      name = "dedup-lsh",
      manifest = IndexManifest.DedupLsh,
      build = p => Dedup.writeIncrementalIndex(docs.filter(baseDoc),
        col("text"), col("doc_id"), p),
      append = p => Dedup.appendToIncrementalIndex(p, docs.filter(deltaDoc),
        col("text"), col("doc_id")),
      stores = Seq("bands" -> Seq("band", "hb"), "shingles" -> Seq("db")),
      repair = p => Dedup.repairIncrementalIndex(spark, p),
      budgetTripped = None,
      maintain = p => { Dedup.compactIncrementalIndex(spark, p): Unit },
      serve = p => Dedup.incrementalDedupStored(p, docs.filter(probeDoc),
        col("text"), col("doc_id"), threshold = 0.5)),
    Family(
      name = "winnowing",
      manifest = IndexManifest.Winnow,
      build = p => Dedup.writeWinnowIndex(docs.filter(baseDoc),
        col("text"), col("doc_id"), p),
      append = p => Dedup.appendToWinnowIndex(p, docs.filter(deltaDoc),
        col("text"), col("doc_id")),
      stores = Seq("fps" -> Seq("fb")),
      repair = p => Dedup.repairWinnowIndex(spark, p),
      budgetTripped = None,
      maintain = p => { Layout.compactPartitioned(spark, s"$p/fps",
        Seq("fb")): Unit },
      serve = p => Dedup.winnowingOverlapStored(spark, p)))

  private def rowsOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Re-land a store's current rows verbatim — the lost-completion
    * write retry. */
  private def doubleStore(path: String, store: String,
      partCols: Seq[String]): Unit = {
    val snap = spark.read.parquet(s"$path/$store").localCheckpoint(true)
    snap.write.mode("append").partitionBy(partCols: _*).parquet(s"$path/$store")
  }

  for (fam <- families)
    test(s"[${fam.name}] torn retry → repair → full replay → repair → maintain: serve stays single-applied") {
      val pristine = Tables.scratchDir(s"conf_${fam.name}_pristine")
      fam.build(pristine)
      val ref = Tables.scratchDir(s"conf_${fam.name}_ref")
      Tables.linkCopyDirectory(new java.io.File(pristine), new java.io.File(ref))
      fam.append(ref)
      val torn = Tables.scratchDir(s"conf_${fam.name}_torn")
      Tables.linkCopyDirectory(new java.io.File(pristine), new java.io.File(torn))
      fam.append(torn)

      // drift budget: one 33%-of-base batch must trip a 10% budget
      fam.budgetTripped.foreach(b =>
        assert(b(torn), s"${fam.name}: the appended batch must trip the drift budget"))

      // TORN retry: only the first store's rows re-land (the crash
      // point sits between the first and second store writes)
      doubleStore(torn, fam.stores.head._1, fam.stores.head._2)
      val firstRows = spark.read.parquet(s"$torn/${fam.stores.head._1}").count()
      fam.repair(torn)
      assert(spark.read.parquet(s"$torn/${fam.stores.head._1}").count() == firstRows / 2,
        s"${fam.name}: repair must collapse the doubled first store exactly")
      fam.repair(ref) // repair on the healthy index must be serve-preserving
      assertResult(rowsOf(fam.serve(ref)), s"${fam.name} after torn-retry repair")(
        rowsOf(fam.serve(torn)))

      // FULL blind replay: every store doubled, then one repair
      fam.stores.foreach { case (s, pc) => doubleStore(torn, s, pc) }
      fam.repair(torn)
      assertResult(rowsOf(fam.serve(ref)), s"${fam.name} after full-replay repair")(
        rowsOf(fam.serve(torn)))

      // maintenance verb applied to BOTH sides: served results must
      // stay identical (refresh/prune/compact are value-preserving
      // given identical inputs)
      fam.maintain(ref)
      fam.maintain(torn)
      assertResult(rowsOf(fam.serve(ref)), s"${fam.name} after maintenance")(
        rowsOf(fam.serve(torn)))

      spark.catalog.clearCache()
      Seq(pristine, ref, torn).foreach(Tables.deleteRecursive)
    }

  for (fam <- families)
    test(s"[${fam.name}] torn manifest: a leftover temp is ignored, a lost one fails serve by name, a wrong family is refused") {
      val idx = Tables.scratchDir(s"conf_${fam.name}_manifest")
      fam.build(idx)
      val manifest = IndexManifest.file(idx)
      val served = rowsOf(fam.serve(idx))
      // a crash before the rename leaves a half-written temp beside the
      // committed manifest
      java.nio.file.Files.write(
        manifest.resolveSibling(s"${manifest.getFileName}.${java.util.UUID.randomUUID()}.tmp"),
        Array[Byte](0x7b, 0x22, 0x66, 0, -1))
      assertResult(served, s"${fam.name}: a leftover temp manifest must not change serving")(
        rowsOf(fam.serve(idx)))
      val other = if (fam.manifest == IndexManifest.Winnow) IndexManifest.Tfidf
        else IndexManifest.Winnow
      val wrong = intercept[IllegalArgumentException](IndexManifest.read(idx, other))
      assert(Seq(manifest.toString, fam.manifest, other).forall(wrong.getMessage.contains),
        wrong.getMessage)
      java.nio.file.Files.delete(manifest)
      val lost = intercept[IllegalArgumentException](rowsOf(fam.serve(idx)))
      assert(lost.getMessage.contains(manifest.toString), lost.getMessage)
      spark.catalog.clearCache()
      Tables.deleteRecursive(idx)
    }

  test("maintenance on a hardlinked copy leaves every file of the pristine index alone, manifest included") {
    import java.nio.file.Files
    def manifest(idx: String): (String, AnyRef) = {
      val f = IndexManifest.file(idx)
      (new String(Files.readAllBytes(f), "UTF-8"), Files.getAttribute(f, "unix:ino"))
    }
    // every file with its mtime: catches a writer that rewrites any
    // linked file in place (Hadoop's _SUCCESS marker is one)
    def files(idx: String): Map[String, Long] = {
      val w = Files.walk(java.nio.file.Paths.get(idx))
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      finally w.close()
    }
    val tfidf = families.find(_.name == "tfidf").get
    val graph = families.find(_.name == "graph-ann").get
    // tf-idf: append then refresh rewrites stat_n; graph: append then a
    // tripped prune rewrites base_nodes
    val rewrites: Seq[(Family, String => Unit)] = Seq(
      tfidf -> { p => tfidf.append(p); Similarity.refreshTfidfIndex(spark, p) },
      graph -> { p =>
        graph.append(p)
        assert(Similarity.pruneKnnGraphIndexIfStale(spark, p, degreeCap = 8),
          "a 33% append must trip the 10% prune budget")
      })
    for ((fam, rewrite) <- rewrites) {
      val pristine = Tables.scratchDir(s"conf_${fam.name}_link_pristine")
      fam.build(pristine)
      val (before, beforeFiles) = (manifest(pristine), files(pristine))
      val copy = Tables.scratchCopy(s"conf_${fam.name}_link_copy", pristine)
      assert(manifest(copy)._2 == before._2, "premise: the copy's manifest is a hardlink")
      Thread.sleep(20) // an in-place rewrite must show as a later mtime
      rewrite(copy)
      assert(manifest(copy)._1 != before._1, s"${fam.name}: the copy's manifest must change")
      assert(manifest(pristine) == before,
        s"${fam.name}: rewriting the copy's manifest must not touch the pristine one")
      assertResult(beforeFiles, s"${fam.name}: the pristine index's files")(files(pristine))
      spark.catalog.clearCache()
      Seq(pristine, copy).foreach(Tables.deleteRecursive)
    }
  }

  test("[graph-ann] entry tier: own clock, budgeted refresh re-samples appended vectors, prune leaves it alone") {
    val base = emb.filter(baseVec)
    val idx = Tables.scratchDir("conf_entry_tier")
    Similarity.writeKnnGraphIndex(
      Similarity.knnGraphExact(base, col("embedding"), col("vec_id"), 8),
      base, col("embedding"), col("vec_id"),
      Similarity.regionEntryPoints(
        Similarity.ivfAssignments(base, col("embedding"), col("vec_id"), 8), 2),
      idx,
      centroids = Similarity.firstNCentroids(base, col("embedding"), col("vec_id"), 8))
    val (s0, n0, p0) = Similarity.knnGraphEntryStaleness(spark, idx)
    assert(s0 == 0L && p0 == 0L, s"fresh build must start entry-fresh: $s0/$p0")
    assert(n0 == base.count(), "entry epoch must be the build's node count")
    // a 33%-of-base append must trip the 10% entry budget — and the
    // refresh must re-sample entries over the GROWN corpus exactly as
    // regionEntryPoints over the stored quantizer's assignments would
    Similarity.appendToKnnGraphIndex(idx, emb.filter(deltaVec),
      col("embedding"), col("vec_id"), kGraph = 8, nProbe = 4,
      beamWidth = 16, rounds = 4)
    val (_, _, p1) = Similarity.knnGraphEntryStaleness(spark, idx)
    assert(p1 > 100000L, s"33% insert volume must exceed the 10% entry budget: $p1")
    assert(Similarity.refreshKnnGraphEntriesIfStale(spark, idx, perRegion = 2),
      "above-budget volume must trigger the entry refresh")
    val (s2, n2, p2) = Similarity.knnGraphEntryStaleness(spark, idx)
    assert(s2 == 0L && p2 == 0L, s"refresh must reset the entry clock: $s2/$p2")
    assert(n2 == emb.filter(baseVec || deltaVec).count(),
      "refreshed epoch must be the grown node count")
    val expected = Similarity.regionEntryPointsEpochAware(
      graft.operators.Similarity.assignNearest(
        spark.read.parquet(s"$idx/vectors").select(col("vid"), col("v"), col("nrm")),
        spark.read.parquet(s"$idx/centroids"), Seq.empty), 2)
      .collect().map(_.getLong(0)).toSet
    val stored = spark.read.parquet(s"$idx/entry")
      .select("vid").collect().map(_.getLong(0)).toSet
    assert(stored == expected,
      "refreshed entries must be the epoch-aware sample over the grown corpus")
    // the epoch-aware rule must actually surface the newest epoch:
    // with perRegion=2 the largest-id half of each non-singleton
    // region is its largest member id — under this 33% append some
    // appended (deltaVec) id must hold an entry slot
    assert(stored.exists(_ % 5 == 3),
      "refresh must elect at least one appended vector as an entry")
    // a below-budget state must NOT refresh
    assert(!Similarity.refreshKnnGraphEntriesIfStale(spark, idx, perRegion = 2),
      "fresh entry clock must not trigger a refresh")
    // prune advances the GRAPH clock's base but must leave the entry
    // clock alone (independent clocks — current = base + Σstaleness on
    // both sides of the prune)
    Similarity.pruneKnnGraphIndexIfStale(spark, idx, degreeCap = 8,
      maxInsertedPpm = 100000L): Unit
    val (s3, _, _) = Similarity.knnGraphEntryStaleness(spark, idx)
    assert(s3 == 0L, s"prune must not move the entry clock: $s3")
    // and the refreshed tier still serves
    assert(Similarity.beamSearchKnnStored(idx,
      emb.filter(col("vec_id") % 50 === 0), col("embedding"), col("vec_id"),
      k = 5, nProbe = 4, beamWidth = 16, rounds = 4).count() > 0L)
    spark.catalog.clearCache()
    Tables.deleteRecursive(idx)
  }
}
