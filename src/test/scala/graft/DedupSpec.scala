package graft

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis, Tier}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.table(spark, sf, "documents")
  private lazy val emb = Tables.table(spark, sf, "embeddings")

  test("LSH candidate generation finds every true near-dup pair (recall = 1 here)") {
    val truth = Dedup.ngramJaccard(docs, col("text"), col("doc_id"))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = Dedup.shingles(docs, col("text"), col("doc_id"))
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(sh))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.subsetOf(cands), s"LSH missed ${truth -- cands}")
    assert(truth.nonEmpty) // sf0.001 slice still carries planted dups
  }

  test("minhash miss probability at our parameters is negligible") {
    assert(Dedup.minhashMissProbability(0.9, bands = 32, rows = 4) < 1e-12)
  }

  test("custom SimHashAgg equals the 64-conditional-sum column formulation") {
    val a = Dedup.simhash(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simhashColumnar(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("simhash is identical for identical docs, close for near-dups") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta"),
      (4L, "one two three four five six")).toDF("doc_id", "text")
    val sm = Dedup.simhash(d, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sm(1L) == sm(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sm(1L), sm(3L)) < hamming(sm(1L), sm(4L)))
  }

  test("simhash dedup (64- and 128-bit) matches the exact jaccard output") {
    val truth = Dedup.ngramJaccard(docs, col("text"), col("doc_id"))
      .collect().map(_.toSeq).toSet
    val s64 = Dedup.simhashDedup(docs, col("text"), col("doc_id"))
      .collect().map(_.toSeq).toSet
    val s128 = Dedup.simhashDedup(docs, col("text"), col("doc_id"),
      maxHamming = 31, words = 2).collect().map(_.toSeq).toSet
    assert(truth.nonEmpty)
    assert(s64 == truth, s"64-bit missed ${truth -- s64}")
    assert(s128 == truth, s"128-bit missed ${truth -- s128}")
  }

  test("media near-dup: banded byte-gram pipeline matches the exact pair set") {
    val packed = Multimodal.packBinary(docs)
    // the quadratic contract the engine never runs at scale: exact
    // byte-16-gram Jaccard via the inverted index (J > 0 needs a
    // shared gram, so candidates=None is exhaustive)
    val truth = Dedup.jaccardVerify(Multimodal.payloadShingles(packed), 0.8)
      .collect().map(_.toSeq).toSet
    val banded = Multimodal.mediaNearDup(packed)
      .collect().map(_.toSeq).toSet
    assert(truth.nonEmpty, "testdata must carry planted payload near-dups")
    assert(banded == truth,
      s"banding missed ${truth -- banded} / fabricated ${banded -- truth}")
  }

  test("wide simhash aggregate at words=1 equals the scalar aggregate") {
    val tf = docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("w"))
      .withColumn("h", xxhash64(col("t")))
    val wide = tf.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash_agg_wide(array(col("h")), col("w"), 1).as("fp"))
      .select(col("doc_id"), element_at(col("fp"), 1).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scalar = Dedup.simhash(docs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide == scalar)
  }

  test("custom shingle generator equals the HOF formulation (corpus + edges)") {
    import spark.implicits._
    val a = Dedup.shingles(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Dedup.shinglesHof(docs, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b && a.nonEmpty)
    // edges: null, empty, whitespace-only, < k tokens, interior runs,
    // and LEADING/TRAILING tabs+newlines — Spark trim strips only
    // spaces, so these produce empty edge tokens that Java's
    // trim+default-split would silently drop (round-2 ADVICE)
    val edges = Seq((1L, null), (2L, ""), (3L, "   "), (4L, "a b"),
      (5L, "  a   b\tc  d "), (6L, "x y z"),
      (7L, "\tp q r"), (8L, "p q r\n"), (9L, " \t u v w \n ")).toDF("doc_id", "text")
    val ea = Dedup.shingles(edges, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val eb = Dedup.shinglesHof(edges, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ea == eb, s"generator-only ${ea -- eb}; HOF-only ${eb -- ea}")
    assert(ea((7L, " p q")) && ea((8L, "q r ")),
      "leading/trailing non-space whitespace must produce empty edge tokens")
    // pin the EXACT shingle set for the leading-\t/\n doc (9), not just
    // generator/HOF parity: space-only trim leaves "\t u v w \n", \s+
    // split with limit -1 yields ["", u, v, w, ""] — the value the
    // DuckDB oracle's regexp_split_to_array(trim(text),'\s+') replays,
    // completing the three-way pin where round-2 once diverged
    assert(ea.filter(_._1 == 9L).map(_._2) == Set(" u v", "u v w", "v w "),
      s"doc 9 shingles: ${ea.filter(_._1 == 9L)}")
  }

  test("connected components equal a local union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xcc2)
    for (trial <- 0 until 4) {
      val n = 40
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // local union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // representative = min node in component among edge-touched nodes
          val r = find(v.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(u => find(u.toInt) == r).min
        }).toMap
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("connected components converge in O(log n) rounds on a path graph") {
    import spark.implicits._
    // a 64-node path has diameter 63: min-label propagation (the round-2
    // implementation) needed ~63 rounds; large-star/small-star must stay
    // logarithmic
    val n = 64
    val path = (0 until n - 1).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    // force the DISTRIBUTED star rounds: the local union-find tier
    // would answer in 0 rounds and void the logarithmic-convergence pin
    spark.conf.set("spark.graft.cc.localEdges", "0")
    val (labels, rounds) =
      try Dedup.connectedComponentsWithRounds(path)
      finally spark.conf.unset("spark.graft.cc.localEdges")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0 until n).map(_.toLong -> 0L).toMap)
    val bound = (math.log(n.toDouble) / math.log(2)).ceil.toInt + 3
    assert(rounds <= bound, s"path-$n took $rounds rounds (bound $bound)")
  }

  test("stored-gate local tier ≡ distributed partition-pruned gate") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val base = docs.filter(col("doc_id") % 5 =!= 1)
    val delta = docs.filter(col("doc_id") % 5 === 1)
    val idx = graft.sources.Tables.scratchDir("spec_gate_tier")
    Dedup.writeIncrementalIndex(base, col("text"), col("doc_id"), idx)
    def verdicts(): Set[(Long, Long, Double)] =
      Dedup.incrementalDedupStored(idx, delta, col("text"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val local = verdicts()
    spark.conf.set("spark.graft.dedup.localGateBytes", "0")
    val dist = try verdicts()
      finally spark.conf.unset("spark.graft.dedup.localGateBytes")
    assert(local == dist, s"gate tiers diverged: " +
      s"${(local diff dist).take(3)} vs ${(dist diff local).take(3)}")
    assert(local.nonEmpty, "gate equivalence over an empty verdict set proves nothing")
    spark.catalog.clearCache()
    graft.sources.Tables.deleteRecursive(idx)
  }

  test("under a zero budget, connected components of an empty edge set run distributed") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val (labels, choices) = Graft.withConfs(spark, Tier.CcEdges.key -> "0") {
      tierChoices("connectedComponents")(Dedup.connectedComponents(empty).collect())
    }
    assert(choices == Seq("distributed"))
    assert(labels.isEmpty)
  }

  test("local union-find tier ≡ distributed star rounds on randomized graphs") {
    import spark.implicits._
    // the optimization-r12 local tier must return the IDENTICAL label
    // table the distributed contraction computes — same component-
    // minimum reps, same node coverage, self-loop singletons included
    val rnd = new scala.util.Random(0x10ca1cc)
    for (trial <- 0 until 4) {
      val n = 60
      val edges = (Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        ++ Seq((n + 5L, n + 5L))).toDF("a", "b") // a self-loop singleton
      def labelsOf(): Map[Long, Long] =
        Dedup.connectedComponents(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = labelsOf() // default budget: local tier
      spark.conf.set("spark.graft.cc.localEdges", "0")
      val dist = try labelsOf() finally spark.conf.unset("spark.graft.cc.localEdges")
      assert(local == dist, s"trial $trial: local ≠ distributed")
      assert(local.contains(n + 5L), s"trial $trial: singleton dropped")
    }
  }

  test("incremental connected components equal full recompute on random deltas") {
    import spark.implicits._
    // randomized equivalence: split a random edge set into base +
    // delta, maintain incrementally, compare to CC over the union.
    // Node ids are drawn so deltas exercise the hard cases: merging
    // two existing components, a NEW node becoming the component
    // minimum, brand-new components, and intra-component noise edges.
    val rnd = new scala.util.Random(0x1cc7)
    for (trial <- 0 until 4) {
      val n = 50
      val all = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val (base, delta) = all.splitAt(all.size * 2 / 3)
      val labels = Dedup.connectedComponents(base.toDF("a", "b"))
      val got = Dedup.incrementalConnectedComponents(
        labels, delta.toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Dedup.connectedComponents((base ++ delta).toDF("a", "b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == full, s"trial $trial")
    }
    // directed hard case: delta node 0 bridges two components whose
    // reps were 3 and 7 — every member must relabel to the NEW min 0
    val labels = Dedup.connectedComponents(
      Seq((3L, 5L), (7L, 9L)).toDF("a", "b"))
    val got = Dedup.incrementalConnectedComponents(
      labels, Seq((0L, 5L), (0L, 9L)).toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 3L -> 0L, 5L -> 0L, 7L -> 0L, 9L -> 0L))
  }

  test("connected components keep self-loop-only nodes as singletons") {
    import spark.implicits._
    // (5,5) is a singleton; (1,1) also has a real edge — exactly one
    // row per input node either way
    val edges = Seq((1L, 2L), (1L, 1L), (5L, 5L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L))
  }

  test("decode error path: truncated payloads yield typed errors, never exceptions") {
    val decoded = Multimodal.decodeWithErrors(
      spark, Multimodal.corruptPayloads(Multimodal.packBinary(docs), everyNth = 10)).toDF()
    val total = docs.count()
    assert(decoded.count() == total, "decode must never drop rows")
    val bad = decoded.filter(col("error").isNotNull)
    val expectedBad = docs.filter(col("doc_id") % 10 === 0 && col("n_chars") > 0).count()
    assert(bad.count() == expectedBad && expectedBad > 0)
    assert(bad.filter(col("content_md5").isNotNull).count() == 0,
      "failed decodes must not carry features")
    // intact rows still produce the correct digest
    val ok = decoded.filter(col("error").isNull)
    val matches = ok.join(docs, Seq("doc_id"))
      .filter(col("content_md5") === md5(col("text"))).count()
    assert(matches == total - expectedBad)
  }

  test("shingle df-cap drops hot shingles") {
    import spark.implicits._
    val d = Seq(
      (1L, "x y z a b c"), (2L, "x y z d e f"), (3L, "x y z g h i")).toDF("doc_id", "text")
    val uncapped = Dedup.shingles(d, col("text"), col("doc_id"))
    val capped = Dedup.shingles(d, col("text"), col("doc_id"), maxShingleDf = Some(2))
    assert(uncapped.filter(col("s") === "x y z").count() == 3)
    assert(capped.filter(col("s") === "x y z").count() == 0)
  }

  test("SRP-bucketed embedding dedup is a subset of brute force, deterministic") {
    val brute = Dedup.embeddingCosinePairs(emb, col("embedding"), col("vec_id"), 0.4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b1 = Dedup.embeddingCosineBucketed(emb, col("embedding"), col("vec_id"), 0.4, bits = 4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b2 = Dedup.embeddingCosineBucketed(emb, col("embedding"), col("vec_id"), 0.4, bits = 4)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b1.subsetOf(brute))
    assert(b1 == b2)
  }

  test("IVF results are a subset of brute-force ranking universe with perfect-probe recall on self-cluster") {
    val ivf = Similarity.topKIvf(emb, col("embedding"), col("vec_id"),
      col("vec_id") % 100 === 0, k = 3, nCentroids = 4, nProbe = 4) // nProbe = all → exact
    val brute = Similarity.topKBruteForce(emb, col("embedding"), col("vec_id"),
      col("vec_id") % 100 === 0, k = 3)
    // probing every centroid makes IVF exhaustive → equals brute force
    val a = ivf.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    val b = brute.select("query_id", "neighbor_id", "rank").collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("k-means-trained IVF centroids: recall >= seed centroids at fixed nprobe, deterministic") {
    val vec = col("embedding"); val id = col("vec_id")
    val isQ = col("vec_id") % 50 === 0
    val k = 10
    val truth = Similarity.topKBruteForce(emb, vec, id, isQ, k)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val got = Similarity.topKIvfWith(emb, vec, id, isQ, k, nProbe = 2, cents)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val seed = recall(Similarity.firstNCentroids(emb, vec, id, 8))
    val trained = recall(Similarity.kmeansCentroids(emb, vec, id, 8, iters = 3))
    assert(trained >= seed, s"trained recall $trained < seed recall $seed")
    assert(trained > 0.0)
    // training is deterministic: identical centers on a second run
    val c1 = Similarity.kmeansCentroids(emb, vec, id, 8, iters = 3)
      .orderBy("cid").collect().map(_.toSeq)
    val c2 = Similarity.kmeansCentroids(emb, vec, id, 8, iters = 3)
      .orderBy("cid").collect().map(_.toSeq)
    assert(c1.sameElements(c2))
  }

  test("int8 re-rank with an exhaustive pool reproduces plain IVF exactly") {
    val vec = col("embedding"); val id = col("vec_id")
    val isQ = col("vec_id") % 100 === 0
    // m >= every candidate set → the approximate prefilter drops
    // nothing, so exact re-ranking must equal the unquantized IVF
    val rr = Similarity.topKIvfRerank(emb, vec, id, isQ,
        k = 3, nCentroids = 4, nProbe = 2, m = 1000000)
      .select("query_id", "neighbor_id", "rank", "cos")
      .collect().map(_.toSeq).toSet
    val ivf = Similarity.topKIvf(emb, vec, id, isQ, k = 3, nCentroids = 4, nProbe = 2)
      .collect().map(_.toSeq).toSet
    assert(rr == ivf)
  }

  test("signCode packs MSB-first 32-bit words; tail word handles dims % 32 != 0") {
    import spark.implicits._
    // 5 dims, signs (+,−,0→+,−,+) → bits 1,0,1,0,1 MSB-first = 10101₂ = 21
    val df = Seq((1L, Array(1.0, -1.0, 0.0, -2.0, 3.0))).toDF("id", "v")
    val code = df.select(Similarity.signCode(col("v"), 5)).head().getSeq[Long](0)
    assert(code == Seq(21L))
    // 33 dims spill into a second word: first word = 32 ones, second = 1
    val ones = Seq((1L, Array.fill(33)(1.0))).toDF("id", "v")
    val c2 = ones.select(Similarity.signCode(col("v"), 33)).head().getSeq[Long](0)
    assert(c2 == Seq(0xFFFFFFFFL, 1L))
  }

  test("packed-code Hamming equals the direct sign-mismatch count on real vectors") {
    val e = emb.select(col("vec_id"),
      Similarity.signCode(Dedup.asDouble(col("embedding")), 64).as("code"))
    val a = e.select(col("vec_id").as("ida"), col("code").as("ca"))
    val b = e.select(col("vec_id").as("idb"), col("code").as("cb"))
    val got = a.join(b, col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        Similarity.hammingDist(col("ca"), col("cb"), 64).as("ham"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    got.foreach { case ((i, j), ham) =>
      val direct = vecs(i).zip(vecs(j)).count { case (x, y) => (x >= 0) != (y >= 0) }
      assert(ham == direct, s"pair ($i,$j): packed $ham vs direct $direct")
    }
    assert(got.nonEmpty)
  }

  test("hamming re-rank with an exhaustive shortlist reproduces brute force exactly") {
    val vec = col("embedding"); val id = col("vec_id")
    val isQ = col("vec_id") % 10 === 0
    val n = emb.count().toInt
    val hr = Similarity.topKHammingRerank(emb, vec, id, isQ,
        k = 3, shortlist = n, dims = 64)
      .select("query_id", "neighbor_id", "rnk", "cos").collect().map(_.toSeq).toSet
    val bf = Similarity.topKBruteForce(emb, vec, id, isQ, k = 3)
      .select("query_id", "neighbor_id", "rank", "cos").collect().map(_.toSeq).toSet
    assert(hr == bf)
    // and a REAL shortlist keeps recall high on these vectors (the
    // sign-bit sketch preserves neighborhood ordering approximately)
    val short = Similarity.topKHammingRerank(emb, vec, id, isQ,
        k = 3, shortlist = math.max(10, n / 4), dims = 64)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = bf.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
    val recall = short.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.5, s"hamming shortlist recall fell to $recall")
  }

  test("blocked kNN graph: edges stay within blocks, ranks deterministic and dense") {
    val g = Similarity.knnGraphBlocked(emb, col("embedding"), col("vec_id"),
      col("label"), k = 2)
    val rows = g.collect()
    val lbl = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    rows.foreach { r =>
      assert(lbl(r.getLong(0)) == lbl(r.getLong(1)),
        s"edge ${r.getLong(0)}→${r.getLong(1)} crosses blocks")
      assert(lbl(r.getLong(0)) == r.get(2), "label column must be the block key")
    }
    // per-src ranks are 1..k (dense, no gaps) wherever the block has
    // enough members, and cosines are non-increasing in rank
    rows.groupBy(_.getLong(0)).foreach { case (src, es) =>
      val byRank = es.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to es.length).toSeq, s"src $src ranks")
      val coss = byRank.map(_.getDouble(4)).toSeq
      assert(coss == coss.sorted.reverse, s"src $src cos not descending")
    }
    assert(rows.nonEmpty)
  }

  test("int8 re-rank: quantization error bounded, pruned recall tracks plain IVF") {
    val vec = col("embedding"); val id = col("vec_id")
    val isQ = col("vec_id") % 50 === 0
    val rows = Similarity.topKIvfRerank(emb, vec, id, isQ,
        k = 5, nCentroids = 8, nProbe = 2, m = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // 255-level per-dim grid ⇒ reconstructed cosines sit close to exact;
    // the bound is empirical (measured ~1e-3 here) with 10× headroom
    rows.foreach { case (q, n, cos, acos) =>
      assert(math.abs(cos - acos) < 0.05, s"($q,$n) cos=$cos acos=$acos")
    }
    val ivf = Similarity.topKIvf(emb, vec, id, isQ, k = 5, nCentroids = 8, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows.map(r => (r._1, r._2)).toSet
    val recall = got.intersect(ivf).size.toDouble / ivf.size
    assert(recall >= 0.8, s"re-rank recall vs plain IVF fell to $recall")
  }

  test("multimodal: binary payload schema + per-partition decode stub") {
    val packed = Multimodal.packBinary(docs)
    assert(packed.schema("payload").dataType.typeName == "binary")
    val feats = Multimodal.extractFeatures(spark, packed)
    val row = feats.filter(col("doc_id") === 0).head()
    assert(row.n_bytes > 0 && row.content_md5.length == 32)
    // md5 agrees with Spark's builtin over the same bytes
    val viaSql = packed.select(md5(col("payload"))).head().getString(0)
    assert(feats.filter(col("doc_id") === 0).head().content_md5 ==
      packed.filter(col("doc_id") === 0).select(md5(col("payload"))).head().getString(0))
    assert(viaSql.length == 32)
  }

  test("substringSpans: cross-doc runs found, merged maximal, internal repeats excluded") {
    import spark.implicits._
    // docs 1 & 2 share a 12-token run (5 overlapping 8-windows → ONE
    // merged span each); doc 3 repeats its own 8-gram twice (internal
    // only → min(doc)=max(doc) → excluded); doc 4 shares nothing
    val shared = (0 until 12).map(i => s"dup$i").mkString(" ")
    val d = Seq(
      (1L, s"${(0 until 10).map(i => s"a$i").mkString(" ")} $shared ${(0 until 5).map(i => s"b$i").mkString(" ")}"),
      (2L, s"${(0 until 3).map(i => s"c$i").mkString(" ")} $shared"),
      (3L, { val run = (0 until 8).map(i => s"r$i").mkString(" "); s"$run x1 x2 $run" }),
      (4L, (0 until 30).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.substringSpans(d, col("text"), col("doc_id"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 10L, 12L), (2L, 3L, 12L)))
  }

  test("substringSpans equals brute force on a dense-collision random corpus") {
    import spark.implicits._
    // 2-token vocabulary => only 256 possible 8-grams, so almost every
    // window duplicates across docs: full-doc spans, overlapping
    // islands, and within-doc repeats all occur — the stress case for
    // the island merge
    val k = 8
    val docs = (0 until 120).map { i =>
      val len = 8 + (i * 2654435761L % 23).toInt
      val toks = (0 until len).map(j => if (((i * 31 + j) * 40503L % 7) < 3) "a" else "b")
      (i.toLong, toks.mkString(" "))
    }
    val tokd = docs.map { case (id, t) => id -> t.split("\\s+", -1).toSeq }
    val support = tokd.flatMap { case (id, w) =>
      (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" ") -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = tokd.flatMap { case (id, w) =>
      val hits = (0 to w.length - k).filter { i =>
        val s = support(w.slice(i, i + k).mkString(" "))
        (s - id).nonEmpty
      }
      // merge islands: next start within k of the previous
      val spans = hits.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p - e0 <= k => (s0, p) :: rest
        case (acc, p) => (p, p) :: acc
      }
      spans.map { case (s0, e0) => (id, s0.toLong, (e0 - s0 + k).toLong) }
    }.toSet
    val got = Dedup.substringSpans(docs.toDF("doc_id", "text"), col("text"), col("doc_id"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expect.nonEmpty && expect.exists(_._3 > k), "fixture must exercise merged spans")
    assert(got == expect)
  }

  test("positional shingle generator equals the posexplode HOF twin (incl. tab/newline edges)") {
    import spark.implicits._
    val d = Seq(
      (1L, " \ta b  c d\te f "), // leading tab survives trim; interior runs
      (2L, "x y"), //                under k tokens -> no rows
      (3L, null.asInstanceOf[String]),
      (4L, "p q r\n")) //            trailing newline -> trailing empty token
      .toDF("doc_id", "text")
    val gen = d.select(col("doc_id"),
        graft.functions.ShingleGenerator.shinglesWithPos(col("text"), 3).as(Seq("pos", "s")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val hof = d.filter(size(split(trim(col("text")), "\\s+")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(split(trim(text), '\\\\s+')) - 3), " +
          "i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i + 1, 3)))")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(gen == hof && gen.exists(_._1 == 1L) && gen.exists(_._1 == 4L))
  }

  test("PQ-ADC: encoding picks the nearest sub-code and scores are exact LUT sums") {
    import spark.implicits._
    // dim 8, m=2 subspaces of 4, 2 codes (vectors 0 and 1); vectors
    // crafted so each half of vec 2/3 is unambiguously closer to one
    // anchor, and vec 4 ties exactly (equidistant) -> lowest cid wins
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 1f)),
      (1L, Array(0f, 1f, 0f, 0f, 0f, 0f, 1f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f, 0f, 0f, 1f, 0f)), // code (0, 1)
      (3L, Array(0f, 1f, 0f, 0f, 0f, 0f, 0f, 1f)), // code (1, 0)
      (4L, Array(0.5f, 0.5f, 0f, 0f, 0f, 0f, 0.5f, 0.5f)), // ties -> (0, 0)
      (100L, Array(1f, 0f, 0f, 0f, 0f, 0f, 0f, 1f))) // the query
      .toDF("vec_id", "embedding")
    val out = Similarity.topKPqAdc(vecs, col("embedding"), col("vec_id"),
        col("vec_id") === 100L, m = 2, subDim = 4, nCodes = 2, k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getLong(3)))
    // driver-side replication: q = v100 = anchor0 exactly, so
    // LUT[m][cid] = dot(anchor0_sub, anchor_cid_sub) = 1 if cid
    // matches anchor0's own code else 0 (orthogonal anchors)
    // scores: code(0,0)=2e6, code(0,1)=1e6, code(1,0)=1e6, code(1,1)=0
    val score = out.map { case (vid, _, s) => vid -> s }.toMap
    assert(score(0L) == 2000000L && score(4L) == 2000000L)
    assert(score(2L) == 1000000L && score(3L) == 1000000L)
    assert(score(1L) == 0L)
    // ranking: score desc then id — 0 before 4, then 2 before 3, then 1
    assert(out.sortBy(_._2).map(_._1).toSeq == Seq(0L, 4L, 2L, 3L, 1L))
  }

  test("canonicalSelection keeps the max-quality member, min id on ties, singletons") {
    import spark.implicits._
    import graft.operators.Dedup
    // cluster {1,2,3} via chain pairs; quality tie between 2 and 3 at 9
    // -> canonical 2 (smaller id); 4 alone in a pair-cluster with 5
    // where 5 wins on quality; 10 is a singleton (no pair at all)
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L), (5L, 7L), (10L, 3L))
      .toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.canonicalSelection(docs, col("doc_id"), col("q"), pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == Map(
      1L -> (2L, false), 2L -> (2L, true), 3L -> (2L, false),
      4L -> (5L, false), 5L -> (5L, true), 10L -> (10L, true)))
  }

  test("mmrSelect penalizes the near-duplicate: pick 2 trades relevance for coverage") {
    import spark.implicits._
    // q=(1,0,0); a is most relevant; b is a near-dup of a and the
    // relevance runner-up; c is moderately relevant but diverse.
    // λ=0.5: pick 1 = a, pick 2 = c (0.5·sim(q,c) − 0.5·sim(c,a) > 0 >
    // 0.5·sim(q,b) − 0.5·sim(b,a)); pure relevance (λ=1) keeps b.
    val e = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 0.1, 0.0)),
      (2L, Seq(1.0, 0.12, 0.0)),
      (3L, Seq(0.6, 0.0, 0.8))).toDF("vec_id", "v")
    def picks(lamPpm: Long) = Similarity.mmrSelect(
        e, col("v"), col("vec_id"), col("vec_id") === 0, k = 2,
        shortlist = 3, lambdaPpm = lamPpm)
      .orderBy("pick").collect().map(_.getLong(2)).toSeq
    assert(picks(500000L) == Seq(1L, 3L))
    assert(picks(1000000L) == Seq(1L, 2L))
    // fewer candidates than k: emit what exists, picks stay 1..n
    val tiny = Similarity.mmrSelect(
        e.filter(col("vec_id") <= 1), col("v"), col("vec_id"),
        col("vec_id") === 0, k = 2, shortlist = 2, lambdaPpm = 500000L)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(tiny == Seq((1, 1L)))
  }

  test("mmrSelect at λ=1 with an exhaustive shortlist reproduces brute-force order") {
    val isQ = col("vec_id") % 10 === 0
    val n = emb.count().toInt
    val got = Similarity.mmrSelect(emb, col("embedding"), col("vec_id"), isQ,
        k = 5, shortlist = n, lambdaPpm = 1000000L)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bf = Similarity.topKBruteForce(emb, col("embedding"), col("vec_id"), isQ, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(got == bf)
    // k picks per query, each pick rank present exactly once
    val byQ = got.keys.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, ks) =>
      assert(ks.map(_._2).toSeq.sorted == (1 to 5), s"query $q picks $ks")
    }
  }
}
