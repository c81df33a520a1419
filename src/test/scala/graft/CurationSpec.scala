package graft

import graft.operators.{Curation, Dedup}
import graft.sources.Tables
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {

  private lazy val docs = Tables.table(spark, sf, "documents")
  private lazy val lineitem = Tables.table(spark, sf, "lineitem")

  test("chunkOverlap covers every token exactly; strides and tails are right") {
    val w = 8; val s = 5
    val chunks = Curation.chunkOverlap(docs, col("text"), col("doc_id"), w, s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val nTokens = docs
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.keySet == nTokens.keySet)
    for ((id, cs) <- chunks) {
      val n = nTokens(id)
      val sorted = cs.sortBy(_._2)
      // chunk i starts at i*s+1 and carries min(w, n - i*s) tokens;
      // the last chunk must reach token n and no chunk may be empty
      sorted.zipWithIndex.foreach { case ((_, idx, nt), i) =>
        assert(idx == i)
        assert(nt == math.min(w, n - i * s), s"doc $id chunk $i")
        assert(nt > 0)
      }
      assert(sorted.last._2 * s + sorted.last._3 == n, s"doc $id tail")
      // consecutive chunks overlap by w-s except possibly the short tail
      assert(sorted.size == 1 + math.max(0, n - w + s - 1) / s)
    }
  }

  test("chunk text reassembles the document when deduped by stride prefix") {
    val w = 8; val s = 8 // stride == window: exact partition of the tape
    val got = Curation.chunkOverlap(docs, col("text"), col("doc_id"), w, s)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text"))))
        .getField("chunk_text")).as("rebuilt"))
    val joined = docs.select(col("doc_id"),
        concat_ws(" ", split(trim(col("text")), "\\s+")).as("norm"))
      .join(got, "doc_id")
      .filter(col("rebuilt") =!= col("norm"))
    assert(joined.count() == 0)
  }

  test("decontaminate equals brute-force shingle intersection") {
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val got = Curation.decontaminate(corpus, bench, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bSet = Dedup.shingles(bench, col("text"), col("doc_id"))
      .select("s").distinct().collect().map(_.getString(0)).toSet
    val expect = Dedup.shingles(corpus, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(p => bSet.contains(p._2))
      .groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(got == expect)
    assert(got.nonEmpty) // the sf0.001 slice still shares shingles
  }

  test("hash32 split-long form equals the widening multiply on edge ids") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 65535L, 65536L, 2654435761L, Int.MaxValue.toLong,
      (1L << 32) - 1, 1L << 32, 3500000000L, 1L << 52, Long.MaxValue)
    val got = ids.toDF("id")
      .select(col("id"), graft.operators.CorpusOps.hash32(col("id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      val expect = ((BigInt(id) * 2654435761L) % (BigInt(1) << 32)).toLong
      assert(got(id) == expect, s"id $id")
    }
    // negative ids would silently diverge from the oracle's
    // sign-following modulo — the operator must refuse them loudly
    val ex = intercept[Exception] {
      Seq(-1L).toDF("id")
        .select(graft.operators.CorpusOps.hash32(col("id"))).collect()
    }
    assert(ex.getMessage.contains("negative id"))
  }

  test("decontaminate never shuffles raw corpus postings (broadcast-probe plan)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val bench = docs.filter(col("source") === "src0")
    val corpus = docs.filter(col("source") =!= "src0")
    val df = Curation.decontaminate(corpus, bench, col("text"), col("doc_id"))
    df.count() // finalize any adaptive re-plan before inspecting
    // traverse AQE stage boundaries too (QueryStageExec hides its stage
    // plan from TreeNode.collect) so the shuffle-free claim is honest
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(flatten)
    }
    val joins = flatten(df.queryExecution.executedPlan)
      .collect { case j: BroadcastHashJoinExec => j }
    assert(joins.nonEmpty, "bench set must broadcast-probe")
    // the streamed (corpus) side below the join must be shuffle-free:
    // a pre-join distinct would hash-partition every (doc_id, shingle)
    joins.foreach { j =>
      val streamed = if (j.buildSide.toString.contains("Right")) j.left else j.right
      assert(flatten(streamed).collect { case e: ShuffleExchangeLike => e }.isEmpty,
        "corpus postings must reach the broadcast probe unshuffled")
    }
  }

  test("trainSplit is a partition and respects the hash thresholds") {
    val r = Curation.trainSplit(docs, col("doc_id"))
      .select(col("doc_id"), col("split")).collect()
    assert(r.map(_.getLong(0)).distinct.length == r.length)
    val byName = r.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byName.keySet.subsetOf(Set("train", "val", "test")))
    assert(byName("train") > byName.getOrElse("val", 0))
    // spot-check the arithmetic against the documented formula
    r.foreach { row =>
      val b = (BigInt(row.getLong(0)) * BigInt(2654435761L)) % 4294967296L % 100
      val expect = if (b < 80) "train" else if (b < 90) "val" else "test"
      assert(row.getString(1) == expect)
    }
  }

  test("skewProfile matches the direct rank-sum gini on real keys") {
    val got = Curation.skewProfile(lineitem, col("l_orderkey")).collect()(0)
    // direct (small-data) computation: sort freqs ascending, gini ppm
    val freqs = lineitem.groupBy("l_orderkey").count()
      .collect().map(_.getLong(1)).sorted
    val k = freqs.length.toLong
    val n = freqs.sum
    val s1 = freqs.zipWithIndex.map { case (c, i) => BigInt(i + 1) * c }.sum
    val gini = (2 * s1 - BigInt(k + 1) * n) * 1000000 / (BigInt(k) * n)
    assert(got.getLong(0) == k)
    assert(got.getLong(1) == n)
    assert(got.getLong(2) == freqs.max)
    assert(got.getLong(3) == freqs.max * 1000000L / n)
    assert(got.getLong(4) == gini.toLong)
  }

  test("skewProfile gini is 0 for uniform keys and ~1 for one hot key") {
    import spark.implicits._
    val uniform = (1 to 100).flatMap(k => Seq.fill(5)(k)).toDF("k")
    assert(Curation.skewProfile(uniform, col("k")).collect()(0).getLong(4) == 0L)
    val spiked = (Seq.fill(9999)(1) ++ (2 to 101)).toDF("k")
    val g = Curation.skewProfile(spiked, col("k")).collect()(0).getLong(4)
    assert(g > 950000L, s"expected near-1 gini, got $g ppm")
  }

  test("madOutliers computes exact median/MAD and flags planted outliers") {
    import spark.implicits._
    val df = (Seq(10, 12, 14, 16, 18, 500).map(("a", _)) ++
      Seq(5, 5, 5, 5).map(("b", _))).toDF("g", "x")
    val r = Curation.madOutliers(df, col("g"), col("x"))
      .collect().map(row => row.getString(0) ->
        (row.getLong(1), row.getDouble(2), row.getDouble(3), row.getLong(4))).toMap
    // group a: sorted 10,12,14,16,18,500 -> med 15, devs 5,3,1,1,3,485 -> mad 3
    assert(r("a") == ((6L, 15.0, 3.0, 1L)))
    assert(r("b") == ((4L, 5.0, 0.0, 0L)))
  }

  test("profileColumns matches direct per-column aggregates in one Expand pass") {
    val cols = Seq("l_orderkey", "l_quantity")
    val prof = Curation.profileColumns(lineitem, cols)
    // multi-distinct profiles plan through a single Expand, not N jobs
    assert(prof.queryExecution.executedPlan.toString.contains("Expand"))
    val got = prof.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    for (c <- cols) {
      val d = lineitem.agg(
        count(when(col(c).isNull, 1)), count_distinct(col(c)),
        min(col(c)).cast("double"), max(col(c)).cast("double")).collect()(0)
      assert(got(c) == ((d.getLong(0), d.getLong(1), d.getDouble(2), d.getDouble(3))), c)
    }
  }

  test("weightedSample keeps exactly the rows under their integer threshold") {
    val kept = Curation.weightedSample(docs, col("doc_id"), col("n_chars"),
        maxWeight = 1000, perWeightPpm = 1000)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs.select("doc_id", "n_chars").collect()
    val expect = all.filter { r =>
      val h = (BigInt(r.getLong(0)) * BigInt(2654435761L)) % 4294967296L % 1000000
      h < math.min(r.getLong(1), 1000L) * 1000
    }.map(_.getLong(0)).toSet
    assert(kept == expect)
    assert(kept.nonEmpty && kept.size < all.length)
  }

  test("chiSquare: zero on exact independence, hand-computed value on a 2x2") {
    import spark.implicits._
    // perfectly proportional table -> chi2 = 0
    val indep = (Seq.fill(10)(("a", "x")) ++ Seq.fill(20)(("a", "y")) ++
      Seq.fill(20)(("b", "x")) ++ Seq.fill(40)(("b", "y"))).toDF("s", "l")
    val r0 = Curation.chiSquare(indep, col("s"), col("l")).head()
    assert(r0.getLong(0) == 1L && r0.getDouble(1) == 0.0)
    // [[30,10],[10,30]]: every e = 20, every term = 100/20 = 5 -> chi2 = 20
    val dep = (Seq.fill(30)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(10)(("b", "x")) ++ Seq.fill(30)(("b", "y"))).toDF("s", "l")
    val r1 = Curation.chiSquare(dep, col("s"), col("l")).head()
    assert(r1.getLong(0) == 1L && r1.getDouble(1) == 20.0)
  }

  test("histogram: exact bins, top-edge clamp, constant column maps to bin 0") {
    import spark.implicits._
    import graft.operators.Curation
    // lo=0, hi=10, 2 bins of width 5: {0,4.9}→bin0, {5,10}→bin1 (hi clamped)
    val got = Curation.histogram(Seq(0.0, 4.9, 5.0, 10.0).toDF("x"), col("x"), 2)
      .orderBy("bin").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.toSeq == Seq((0L, 2L, 0.0, 4.9), (1L, 2L, 5.0, 10.0)))
    // constant column: no divide-by-zero, everything lands in bin 0
    val const = Curation.histogram(Seq(7.0, 7.0, 7.0).toDF("x"), col("x"), 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(const.toSeq == Seq((0L, 3L)))
  }

  test("referentialAudit: orphan, null, and distinct counts are exact") {
    import spark.implicits._
    // children: 3 match (keys 1,1,2), 2 orphans (9,9), 2 null keys
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(9L), None, None)
      .toDF("k")
    val parent = Seq(1L, 2L, 3L, 3L).toDF("p") // dup parent keys must not fan out
    val r = Curation.referentialAudit(
      Seq(("c->p", child, col("k"), parent, col("p")))).head()
    assert(r.getString(0) == "c->p")
    assert(r.getLong(1) == 7L, "child_rows")
    assert(r.getLong(2) == 3L, "distinct_keys (1,2,9 — nulls excluded)")
    assert(r.getLong(3) == 2L, "null_keys")
    assert(r.getLong(4) == 2L, "orphan_rows")
  }

  // --- DSIR importance resampling ---------------------------------------

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Spark-semantics tokenize (trim spaces only, split limit -1) +
    * unigram∪bigram multiset — the reference model for the operator. */
  private def feats(text: String): Seq[String] = {
    var s = 0; var e = text.length
    while (s < e && text.charAt(s) == ' ') s += 1
    while (e > s && text.charAt(e - 1) == ' ') e -= 1
    val w = text.substring(s, e).split("\\s+", -1).toSeq
    w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  private def bruteWeights(raw: Seq[(Long, String)], target: Seq[(Long, String)])
      : Map[Long, (Long, Double)] = {
    val rawF = raw.map { case (id, t) => id -> feats(t) }
    val tf = target.flatMap(d => feats(d._2)).groupBy(identity).view.mapValues(_.size).toMap
    val rf = rawF.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
    val vocab = (tf.keySet ++ rf.keySet).size
    val tn = tf.values.sum; val rn = rf.values.sum
    def lr(f: String): Double = r6(
      math.log10((tf.getOrElse(f, 0) + 1.0) / (tn.toDouble + vocab)) -
        math.log10((rf.getOrElse(f, 0) + 1.0) / (rn.toDouble + vocab)))
    rawF.map { case (id, fs) =>
      val sum = fs.foldLeft(BigDecimal(0)) { (acc, f) =>
        acc + BigDecimal(lr(f)).setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }
      id -> (fs.size.toLong, r6(sum.toDouble))
    }.toMap
  }

  test("importanceWeights equals the brute-force DSIR computation") {
    val rawDocs = docs.filter(col("source") =!= "src0")
    val tgtDocs = docs.filter(col("source") === "src0")
    val got = Curation.importanceWeights(rawDocs, tgtDocs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val raw = rawDocs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val tgt = tgtDocs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = bruteWeights(raw, tgt)
    assert(got.keySet == expect.keySet)
    for ((id, (nf, lw)) <- expect) {
      assert(got(id)._1 == nf, s"n_feat of doc $id")
      assert(math.abs(got(id)._2 - lw) < 1e-9, s"logw of doc $id: ${got(id)._2} vs $lw")
    }
  }

  test("importanceWeights ranks target-domain lookalikes above off-domain docs") {
    import spark.implicits._
    // target domain speaks "alpha beta gamma"; raw doc 1 parrots it,
    // raw docs 2-3 speak a disjoint vocabulary
    val target = Seq((100L, "alpha beta gamma alpha beta"), (101L, "beta gamma alpha"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "alpha beta gamma beta"),
      (2L, "delta epsilon zeta delta"),
      (3L, "eta theta iota eta theta")).toDF("doc_id", "text")
    // the hashed form at the scale probe's 2^22 buckets must select the
    // planted lookalike the same way
    for (weights <- Seq(
        Curation.importanceWeights(raw, target, col("text"), col("doc_id")),
        Curation.importanceWeightsHashed(raw, target, col("text"), col("doc_id"),
          buckets = 1 << 22))) {
      val w = weights.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(w(1L) > w(2L) && w(1L) > w(3L),
        s"on-domain doc must outrank off-domain: $w")
      assert(w(2L) < 0 && w(3L) < 0, "off-domain docs carry negative evidence")
    }
  }

  test("hashed DSIR weights are bit-equal to exact weights when buckets are injective here") {
    val rawDocs = docs.filter(col("source") =!= "src0")
    val tgtDocs = docs.filter(col("source") === "src0")
    val b = 1 << 26
    // injectivity precondition: no two distinct features share a bucket
    // on this corpus (deterministic data — holds or the test fails loud)
    val feats = docs.select(graft.functions.ShingleGenerator.shingles(col("text"), 1).as("f"))
      .unionAll(docs.select(graft.functions.ShingleGenerator.shingles(col("text"), 2).as("f")))
    val nF = feats.distinct().count()
    val nB = feats.select(pmod(xxhash64(col("f")), lit(b.toLong))).distinct().count()
    assume(nF == nB, s"bucket collision at B=$b on unigrams")
    val exact = Curation.importanceWeights(rawDocs, tgtDocs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val hashed = Curation.importanceWeightsHashed(
        rawDocs, tgtDocs, col("text"), col("doc_id"), buckets = b)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(hashed == exact)
  }

  test("importanceResample is the Gumbel-top-k of the weights, heap-merged not sorted") {
    val rawDocs = docs.filter(col("source") =!= "src0")
    val tgtDocs = docs.filter(col("source") === "src0")
    val k = 20
    val df = Curation.importanceResample(rawDocs, tgtDocs, col("text"), col("doc_id"), k)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(got.length == k)
    // recompute the selection key from the weights + md5 gumbel draw
    val weights = Curation.importanceWeights(rawDocs, tgtDocs, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def gumbel(id: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
      r6(-math.log(-math.log(u)))
    }
    val expect = weights.toSeq
      .map { case (id, lw) => (id, lw, gumbel(id)) }
      .sortBy { case (id, lw, g) => (-(lw + g), id) }
      .take(k).map(_._1).toSet
    assert(got.map(_._1).toSet == expect)
    got.foreach { case (id, lw, g) =>
      assert(math.abs(lw - weights(id)) < 1e-9)
      assert(math.abs(g - gumbel(id)) < 1e-9)
    }
    // scale shape: top-k must be a TakeOrderedAndProject heap merge,
    // never a global Sort of the weighted corpus
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("importanceWeights broadcast-joins the ratio table (corpus never re-shuffled by feature)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val rawDocs = docs.filter(col("source") =!= "src0")
    val tgtDocs = docs.filter(col("source") === "src0")
    val df = Curation.importanceWeights(rawDocs, tgtDocs, col("text"), col("doc_id"))
    df.count()
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(flatten)
    }
    assert(flatten(df.queryExecution.executedPlan)
      .collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      "feature→ratio lookup must be a broadcast probe, not a shuffle join")
  }
}
