package graft

import graft.operators.{Similarity, Tier}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The memory-resident (task-local) beam walk tier must be
  * VALUE-IDENTICAL to the distributed bucket-pruned rounds — the
  * optimization-r12 contract: `spark.graft.ann.localWalkIndexBytes`
  * only moves WHERE the walk executes, never what it returns. Pins
  * all four output columns (ranks and integer-micro scores included)
  * for the plain serve walk, the region-seeded insertion walk inside
  * the append verb, and the over-budget fallback. */
class LocalWalkSpec extends SparkSpec {

  private val budgetKey = Tier.AnnWalkBytes.key

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet

  private def buildIdx(name: String): String = {
    val emb = Tables.table(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 3 =!= 1)
    val idx = Tables.scratchDir(name)
    Similarity.writeKnnGraphIndex(
      Similarity.knnGraphExact(base, col("embedding"), col("vec_id"), 8),
      base, col("embedding"), col("vec_id"),
      Similarity.ivfAssignments(base, col("embedding"), col("vec_id"), 8)
        .groupBy("cid").agg(min(col("vid")).as("vid")),
      idx,
      centroids = Similarity.firstNCentroids(base, col("embedding"),
        col("vec_id"), 8))
    idx
  }

  test("eligibility fails CLOSED on paths that are not readable local dirs") {
    // a store the sizer cannot see (remote URI, missing directory) must
    // take the DISTRIBUTED path — never the collect-to-driver tier on a
    // 0-byte misread (VERDICT r12 #2)
    val walk = Tier.AnnWalkBytes.stores
    val gate = Tier.DedupGateBytes.stores
    assert(Tier.storeBytes("hdfs://nn:8020/idx", walk).isEmpty)
    assert(Tier.storeBytes("s3://bucket/idx", walk).isEmpty)
    assert(Tier.storeBytes(
      Tables.scratchDir("spec_localwalk_nonexistent") + "/never_written", walk).isEmpty)
    assert(Tier.storeBytes("hdfs://nn:8020/dd", gate).isEmpty)
    assert(Tier.storeBytes(
      Tables.scratchDir("spec_localgate_nonexistent") + "/never_written", gate).isEmpty)
    // and an unsizable store is a distributed decision under any budget
    val (local, choices) = tierChoices("spec") {
      Graft.withConfs(spark, budgetKey -> Long.MaxValue.toString) {
        Tier.localStore(spark, "spec", Tier.AnnWalkBytes, "s3://bucket/idx")
      }
    }
    assert(!local && choices == Seq("distributed"))
  }

  test("serve walk: local tier ≡ distributed rounds, all four columns") {
    val emb = Tables.table(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") % 50 === 0)
    val idx = buildIdx("spec_localwalk_serve")
    assert(Tier.localStore(spark, "spec", Tier.AnnWalkBytes, idx),
      "spec index must sit under the default local-walk budget")
    val local = rows(Similarity.beamSearchKnnStored(idx, q,
      col("embedding"), col("vec_id"), k = 5, nProbe = 4, beamWidth = 16,
      rounds = 4))
    spark.conf.set(budgetKey, "0") // force the distributed walk
    try {
      assert(!Tier.localStore(spark, "spec", Tier.AnnWalkBytes, idx))
      val dist = rows(Similarity.beamSearchKnnStored(idx, q,
        col("embedding"), col("vec_id"), k = 5, nProbe = 4, beamWidth = 16,
        rounds = 4))
      assert(local == dist,
        s"local and distributed serve walks diverged: " +
          s"${(local diff dist).take(3)} vs ${(dist diff local).take(3)}")
      assert(local.nonEmpty, "equivalence over an empty result proves nothing")
    } finally spark.conf.unset(budgetKey)
    spark.catalog.clearCache()
    Tables.deleteRecursive(idx)
  }

  test("insertion walk: append under local tier ≡ append under distributed rounds") {
    val emb = Tables.table(spark, sf, "embeddings")
    val delta = emb.filter(col("vec_id") % 3 === 1)
    val q = emb.filter(col("vec_id") % 50 === 0)
    val pristine = buildIdx("spec_localwalk_ins_base")
    def appended(forceDistributed: Boolean): (Set[(Long, Long)], Set[(Long, Long, Int, Long)]) = {
      val idx = Tables.scratchDir(
        s"spec_localwalk_ins_${if (forceDistributed) "d" else "l"}")
      graft.sources.Tables.linkCopyDirectory(
        new java.io.File(pristine), new java.io.File(idx))
      if (forceDistributed) spark.conf.set(budgetKey, "0")
      try {
        Similarity.appendToKnnGraphIndex(idx, delta, col("embedding"),
          col("vec_id"), kGraph = 8, nProbe = 4, beamWidth = 16, rounds = 4)
      } finally if (forceDistributed) spark.conf.unset(budgetKey)
      val adj = spark.read.parquet(s"$idx/adj").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // serve AFTER the append, through whichever tier the conf picks —
      // exercised distributed here too when forceDistributed
      if (forceDistributed) spark.conf.set(budgetKey, "0")
      val served =
        try rows(Similarity.beamSearchKnnStored(idx, q, col("embedding"),
          col("vec_id"), k = 5, nProbe = 4, beamWidth = 16, rounds = 4))
        finally if (forceDistributed) spark.conf.unset(budgetKey)
      Tables.deleteRecursive(idx)
      (adj, served)
    }
    val (adjL, serveL) = appended(forceDistributed = false)
    val (adjD, serveD) = appended(forceDistributed = true)
    assert(adjL == adjD, "insertion edges diverged between walk tiers")
    assert(serveL == serveD, "post-append serve diverged between walk tiers")
    assert(serveL.nonEmpty && adjL.nonEmpty)
    spark.catalog.clearCache()
    Tables.deleteRecursive(pristine)
  }

  test("prune verb: local tier ≡ distributed re-score, kept edges and count") {
    val emb = Tables.table(spark, sf, "embeddings")
    val delta = emb.filter(col("vec_id") % 3 === 1)
    val pristine = buildIdx("spec_localprune_base")
    def pruned(forceDistributed: Boolean): (Long, Set[(Long, Long)]) = {
      val idx = Tables.scratchDir(
        s"spec_localprune_${if (forceDistributed) "d" else "l"}")
      graft.sources.Tables.linkCopyDirectory(
        new java.io.File(pristine), new java.io.File(idx))
      // grow reverse-edge degree past the cap, then prune
      Similarity.appendToKnnGraphIndex(idx, delta, col("embedding"),
        col("vec_id"), kGraph = 8, nProbe = 4, beamWidth = 16, rounds = 4)
      if (forceDistributed) spark.conf.set(budgetKey, "0")
      val n =
        try Similarity.pruneKnnGraphIndex(spark, idx, degreeCap = 8)
        finally if (forceDistributed) spark.conf.unset(budgetKey)
      val adj = spark.read.parquet(s"$idx/adj").select(col("src"), col("dst"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      Tables.deleteRecursive(idx)
      (n, adj)
    }
    val (nL, adjL) = pruned(forceDistributed = false)
    val (nD, adjD) = pruned(forceDistributed = true)
    assert(nL == nD, s"over-cap count diverged: $nL vs $nD")
    assert(adjL == adjD, "pruned adjacency diverged between tiers")
    assert(nL > 0, "prune equivalence over a no-op prune proves nothing")
    spark.catalog.clearCache()
    Tables.deleteRecursive(pristine)
  }
}
