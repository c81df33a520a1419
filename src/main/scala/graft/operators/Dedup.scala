package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (north-star
  * extensions; BASELINE.json:6): exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Architecture for 100 TB:
  *  - candidate generation is always a *bucket join* (inverted index /
  *    LSH band / SRP bucket) — never an all-pairs product;
  *  - verification recomputes the exact measure on the candidate pairs
  *    only, so LSH parameters trade recall for cost without changing
  *    output semantics (at our thresholds the miss probability is
  *    ~1e-15, see [[minhashBandsFor]]);
  *  - every stage is groupBy/join-shaped: map-side partial aggregation
  *    and AQE skew handling apply; hot shingles can be capped with
  *    `maxShingleDf` (standard df-cut) without losing exactness when
  *    the same cut is applied to the oracle.
  */
object Dedup {

  /** Exact dedup: hash-group by content, keep the smallest id as the
    * cluster representative. */
  def exact(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs.groupBy(md5(text).as("content_md5"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Distinct word k-shingles per document: (doc_id, s). The exploded,
    * shuffled-by-shingle form IS the inverted index. Shingling runs
    * through the custom [[graft.functions.ShingleGenerator]] — one
    * fused tokenize→k-gram→explode pass (the HOF spelling below
    * allocates token + index arrays per row through CodegenFallback;
    * DedupSpec pins the two equal). */
  def shingles(docs: DataFrame, text: Column, id: Column, k: Int = 3,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val sh = docs
      .select(id.as("doc_id"),
        graft.functions.ShingleGenerator.shingles(text, k).as("s"))
      .distinct()
    maxShingleDf.fold(sh) { cap =>
      val hot = sh.groupBy("s").count().filter(col("count") > cap).select("s")
      sh.join(hot, Seq("s"), "left_anti")
    }
  }

  /** Composed-builtin twin of [[shingles]] (HOF transform + concat_ws)
    * — kept as the equality oracle for the custom generator. */
  private[graft] def shinglesHof(docs: DataFrame, text: Column, id: Column,
      k: Int = 3): DataFrame = {
    val w = TextAnalysis.tokens(text)
    docs
      .select(id.as("doc_id"), w.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $k), i -> concat_ws(' ', ${(0 until k).map(j => s"w[i + $j]").mkString(", ")}))")).as("s"))
      .distinct()
  }

  /** Shingle-set sizes per doc. */
  private def sizes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Exact Jaccard ≥ threshold over candidate pairs (da < db). When
    * `candidates` is None the inverted index itself generates the pairs
    * (exact: J > 0 requires a shared shingle). With candidates, the
    * shingle index is FIRST semi-joined down to candidate docs — the
    * whole point of LSH is that the verify join touches only candidate
    * postings, not the full inverted index. */
  def jaccardVerify(sh: DataFrame, threshold: Double,
      candidates: Option[DataFrame] = None): DataFrame = {
    val (shA, shB) = candidates match {
      case Some(c) =>
        (sh.join(c.select(col("da").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"),
          sh.join(c.select(col("db").as("doc_id")).distinct(), Seq("doc_id"), "left_semi"))
      case None => (sh, sh)
    }
    val a = shA.select(col("doc_id").as("da"), col("s"))
    val b = shB.select(col("doc_id").as("db"), col("s"))
    val joined = a.join(b, Seq("s")).filter(col("da") < col("db"))
    val restricted = candidates.fold(joined)(c => joined.join(c, Seq("da", "db"), "left_semi"))
    val inter = restricted.groupBy("da", "db").agg(count(lit(1)).as("c"))
    // sizes come from the (possibly candidate-restricted) index halves:
    // the semi-join keeps every shingle of a candidate doc, so these
    // counts equal the full-index counts for exactly the docs that can
    // appear in `inter` — no aggregation over the full index when LSH
    // has already pruned it
    inter
      .join(sizes(shA).select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sizes(shB).select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("da").as("doc_a"), col("db").as("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** N-gram Jaccard dedup — inverted-index candidate join + exact
    * verify, no LSH approximation. */
  def ngramJaccard(docs: DataFrame, text: Column, id: Column,
      k: Int = 3, threshold: Double = 0.8): DataFrame =
    jaccardVerify(shingles(docs, text, id, k), threshold)

  /** Directional CONTAINMENT: |sh(inner) ∩ sh(outer)| / |sh(inner)| ≥
    * threshold, ordered pairs. Jaccard misses sub-document duplication
    * (a doc quoted inside a much larger one scores J ≈ |A|/|B| → 0);
    * containment is the measure corpus pipelines use for quote and
    * boilerplate detection. Same inverted-index shape as
    * [[jaccardVerify]] — the join is bounded by shingle document
    * frequency, never pairs × corpus; at production scale the pair
    * generation drops in behind the LSH candidate index exactly like
    * the Jaccard verify does. */
  def containment(docs: DataFrame, text: Column, id: Column,
      k: Int = 3, threshold: Double = 0.9): DataFrame = {
    val sh = shingles(docs, text, id, k)
    val a = sh.select(col("doc_id").as("inner_doc"), col("s"))
    val b = sh.select(col("doc_id").as("outer_doc"), col("s"))
    val inter = a.join(b, Seq("s"))
      .filter(col("inner_doc") =!= col("outer_doc"))
      .groupBy("inner_doc", "outer_doc").agg(count(lit(1)).as("c"))
    inter
      .join(sizes(sh).select(col("doc_id").as("inner_doc"), col("n")), Seq("inner_doc"))
      .withColumn("containment", col("c").cast("double") / col("n"))
      .filter(col("containment") >= threshold)
      .select(col("inner_doc"), col("outer_doc"),
        round(col("containment"), 6).as("containment"))
  }

  /** Exact duplicated-substring spans — the ExactSubstr dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), re-expressed as a distributed bucket join
    * instead of a monolithic suffix array: for each document, every
    * maximal token range whose k-token windows ALL also occur in at
    * least one other document. Sub-document exact duplication (licence
    * headers, boilerplate, quoted passages) is what document-level
    * hashes structurally miss.
    *
    * Dataflow (each stage groupBy/join-shaped, no pair product):
    *  1. positional k-shingles via the fused generator, keyed by md5 —
    *     fixed-width shuffle keys instead of k-token strings;
    *  2. duplicated-shingle set = keys whose doc support has
    *     min(doc_id) ≠ max(doc_id) (⇔ ≥ 2 distinct docs) — ONE
    *     ordinary aggregate, fully map-side combinable (no distinct
    *     rewrite / second shuffle);
    *  3. semi-join positions back to the duplicated keys;
    *  4. per-doc gaps-and-islands window merges overlapping windows
    *     (start gap ≤ k) into maximal spans. The window partitions by
    *     doc over each doc's few duplicated positions only — bounded
    *     state, unlike a corpus-wide suffix sort.
    *
    * Output: (doc_id, span_start, span_tokens) — 0-based start-token
    * index and token length of each maximal duplicated span. */
  def substringSpans(docs: DataFrame, text: Column, id: Column, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = docs
      .select(id.as("doc_id"),
        graft.functions.ShingleGenerator.shinglesWithPos(text, k).as(Seq("pos", "s")))
      // 16-byte binary key, not the 32-char hex string: the key rides
      // BOTH wide shuffles (dup-set aggregate + semi join), so halving
      // it halves the dominant shuffle bytes; 128 bits keeps collisions
      // negligible even at 10^12 shingles (unlike a 64-bit xxhash,
      // where birthday collisions would fabricate spans at that scale)
      .select(col("doc_id"), col("pos"), unhex(md5(col("s"))).as("h"))
    val dup = keyed.groupBy("h")
      .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      .filter(col("d0") =!= col("d1"))
      .select("h")
    val hits = keyed.join(dup, Seq("h"), "left_semi").select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("g",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "g")
      .agg(min("pos").as("mn"), max("pos").as("mx"))
      .select(col("doc_id"), col("mn").cast("long").as("span_start"),
        (col("mx") - col("mn") + k).cast("long").as("span_tokens"))
  }

  /** MinHash signatures: numHashes mins per doc in one pass over the
    * inverted index (map-side combinable). The hash family is
    * Carter-Wegman: h_k(s) = h1(s) + k·h2(s) over two base xxhash64
    * values — 2 string hashes + integer arithmetic per shingle instead
    * of numHashes string hashes (the standard trick; ~4× cheaper here
    * and the downstream exact-Jaccard verify makes the family choice
    * output-invariant). */
  /** Mersenne prime 2^31-1: universal-hash modulus small enough that
    * a_k·h never overflows a long (Spark 4 runs ANSI mode — wrapping
    * arithmetic throws ARITHMETIC_OVERFLOW). */
  private val MersenneP = 2147483647L

  /** Per-k affine seeds (a_k, b_k), fixed deterministic stream. */
  private def cwSeeds(numHashes: Int): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed)
    IndexedSeq.fill(numHashes)((1L + rnd.nextInt((MersenneP - 1).toInt),
      rnd.nextInt(MersenneP.toInt).toLong))
  }

  def minhashSignatures(sh: DataFrame, numHashes: Int = 128): DataFrame = {
    // ONE string hash per shingle, then per-k affine universal hashes
    // (a_k·h + b_k) mod 2^31-1 — integer-only, decorrelated across k
    // (a purely linear h1 + k·h2 family collapses band independence:
    // for large k the argmin is h2-dominated, so bands stop being
    // independent recall trials and planted pairs get missed)
    val seeds = cwSeeds(numHashes)
    val hashed = sh.select(
      col("doc_id"),
      pmod(xxhash64(col("s")), lit(MersenneP)).as("h"))
    hashed.groupBy("doc_id").agg(
      min(pmod(col("h") * seeds(0)._1 + seeds(0)._2, lit(MersenneP))).as("m0"),
      (1 until numHashes).map(i =>
        min(pmod(col("h") * seeds(i)._1 + seeds(i)._2, lit(MersenneP))).as(s"m$i")): _*)
  }

  /** Probability a J-similar pair is missed by b bands of r rows:
    * (1 - J^r)^b — e.g. J=0.9, r=4, b=16 → 2e-8 (the default), b=32 →
    * 1.6e-15. Signature width trades this tail against aggregate cost
    * linearly. */
  def minhashMissProbability(j: Double, bands: Int, rows: Int): Double =
    math.pow(1 - math.pow(j, rows), bands)

  def minhashBandsFor(numHashes: Int, rows: Int): Int = numHashes / rows

  /** Banded band-hash buckets per doc: (doc_id, band, h) — the shared
    * LSH index construction used by both the batch candidate join and
    * the incremental delta-vs-corpus join (one definition, so the
    * stored-corpus index and a delta's banding can never drift). */
  def bandedBuckets(sigs: DataFrame, numHashes: Int, rows: Int): DataFrame = {
    val bands = minhashBandsFor(numHashes, rows)
    val bandCols = (0 until bands).map { bId =>
      struct(lit(bId).as("band"),
        xxhash64((bId * rows until (bId + 1) * rows).map(i => col(s"m$i")): _*).as("h"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bh"))
      .select(col("doc_id"), col("bh.band").as("band"), col("bh.h").as("h"))
  }

  /** LSH candidate pairs from banded signatures. */
  def lshCandidates(sigs: DataFrame, numHashes: Int = 128, rows: Int = 4): DataFrame = {
    val exploded = bandedBuckets(sigs, numHashes, rows)
    exploded.alias("x").join(exploded.alias("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
  }

  /** MinHash+LSH dedup: shingle → sign → band → bucket-join →
    * exact-Jaccard verify. Output semantics equal [[ngramJaccard]]
    * (modulo the ~1e-15 miss probability); cost is linear in corpus +
    * candidates instead of quadratic. */
  def minhashLsh(docs: DataFrame, text: Column, id: Column,
      k: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, rows: Int = 4): DataFrame = {
    val sh = shingles(docs, text, id, k)
    val cands = lshCandidates(minhashSignatures(sh, numHashes), numHashes, rows)
    jaccardVerify(sh, threshold, Some(cands))
  }

  /** 64-bit SimHash per doc over whitespace tokens weighted by term
    * frequency. One explode + ONE custom aggregate
    * ([[graft.functions.SimHashAgg]]: a TypedImperativeAggregate whose
    * long[64] buffer folds all bits per row — ~64× fewer aggregate
    * expressions than the conditional-sum formulation, same result,
    * spec-asserted). Two shuffles total regardless of corpus size. */
  def simhash(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val tf = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("w"))
      .withColumn("h", xxhash64(col("t")))
    tf.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash_agg(col("h"), col("w")).as("simhash"))
  }

  /** Reference column formulation of [[simhash]] (64 conditional sums) —
    * kept as the equality oracle for the custom aggregate. */
  private[graft] def simhashColumnar(docs: DataFrame, text: Column, id: Column): DataFrame = {
    val tf = docs.select(id.as("doc_id"), explode(TextAnalysis.tokens(text)).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("w"))
      .withColumn("h", xxhash64(col("t")))
    val bitSums = tf.groupBy("doc_id").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(1) === 1, col("w")).otherwise(-col("w"))).as("b0"),
      (1 until 64).map(i =>
        sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("w")).otherwise(-col("w"))).as(s"b$i")): _*)
    bitSums.select(col("doc_id"),
      (0 until 64).map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup: shingle-feature fingerprints, 4-bit bands
    * (pigeonhole-complete for hamming ≤ 16·words − 1) → hamming refine →
    * exact-Jaccard verify.
    *
    * Feature choice (measured, sf0.1 corpus, docs/EXPERIMENTS.md): the
    * fingerprint hashes distinct k-shingles (Henzinger'06-style), NOT
    * tf-weighted tokens. Token-level bits are vocabulary-correlated
    * across UNRELATED documents (background hamming mean 18.6/64, min
    * 4), which drives banding selectivity to ~zero — the round-1 plan
    * admitted 98% of all pairs and 3.19 M survived the radius filter.
    * Shingle features decorrelate the background (mean 31.9, min 17)
    * while true J ≥ 0.8 pairs stay at hamming ≤ 11: the same banding
    * then refines to ~450 candidates at full recall. (tf-idf weighting
    * was also measured and is WORSE: idf amplifies exactly the rare
    * tokens near-dup pairs differ in — true-pair hamming reaches 39.)
    *
    * `words` widens the fingerprint in 64-bit steps (128-bit = words 2)
    * with proportional banding — same relative radius, finer angular
    * resolution — for corpora where 64 planes can't separate; here the
    * 64-bit margin (11 true vs 17 background) makes words=1 optimal.
    * The expensive refine/verify stages see only candidate pairs, so
    * the banded join's probe stream stays inside whole-stage codegen —
    * nothing quadratic is ever shuffled. */
  def simhashDedup(docs: DataFrame, text: Column, id: Column,
      maxHamming: Int = 15, threshold: Double = 0.8, words: Int = 1): DataFrame =
    simhashDedupFromShingles(shingles(docs, text, id), maxHamming, threshold, words)

  /** [[simhashDedup]] over a CALLER-SUPPLIED distinct shingle stream
    * `(doc_id, s)` — the banding/refine/verify pipeline is
    * feature-agnostic, so any deterministic per-record feature set
    * (word shingles here, payload byte k-grams in
    * [[Multimodal.mediaNearDup]]) drops into the same machinery. */
  def simhashDedupFromShingles(sh0: DataFrame,
      maxHamming: Int = 15, threshold: Double = 0.8, words: Int = 1): DataFrame = {
    require(maxHamming < 16 * words, s"banding guarantees hamming <= ${16 * words - 1}")
    // checkpoint the shingle stream ONCE here (unless the caller already
    // hands a materialized leaf): it feeds the fingerprint aggregate AND
    // jaccardVerify's four consumers — left lazy, the whole tokenize/
    // gram subtree re-evaluates per consumer (optimization r13, guide
    // §1.2: don't compute things twice)
    val sh =
      if (org.apache.spark.sql.graft.Bridge.isMaterializedLeaf(sh0)) sh0
      else Iterate.ckpt(sh0)._1
    val features = sh.select(col("doc_id"),
      array((0 until words).map(w => xxhash64(lit(w), col("s"))): _*).as("hs"),
      lit(1L).as("w"))
    val sm = features.groupBy("doc_id")
      .agg(graft.functions.SimHashAgg.simhash_agg_wide(col("hs"), col("w"), words).as("fp"))
    val banded = sm.select(col("doc_id"), col("fp"),
      explode(array((0 until 16 * words).map { b =>
        val (word, j) = (b / 16, b % 16)
        struct(lit(b).as("band"),
          shiftright(element_at(col("fp"), word + 1), j * 4).bitwiseAND(15).as("h"))
      }: _*)).as("bh"))
      .select(col("doc_id"), col("fp"), col("bh.band").as("band"), col("bh.h").as("h"))
    val hamming = (0 until words).map(w =>
      bit_count(element_at(col("x.fp"), w + 1).bitwiseXOR(element_at(col("y.fp"), w + 1))))
      .reduce(_ + _)
    val cands0 = banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .filter(hamming <= maxHamming)
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    // checkpoint the (near-dup-sized, tiny) candidate set: the verify
    // consumes it THREE times (da docs, db docs, pair semi-join), and
    // left lazy the whole fingerprint + 12 M-row banding self-join
    // subtree re-executed per consumer — measured ~3 s of pure
    // re-computation per query at sf0.1, and the duplicated allocation
    // was the GC-storm exposure behind the 32-core in-run blowups
    // (VERDICT r12 #1; optimization r13)
    val (cands, _, _) = Iterate.ckpt(cands0)
    jaccardVerify(sh, threshold, Some(cands))
  }

  /** Cross-set exact-Jaccard verify: pairs (da ∈ A, db ∈ B) for the
    * given candidates — the incremental counterpart of [[jaccardVerify]]
    * (no da < db canonicalization: the two sides are distinct sets).
    *
    * `deltaSmall = true` declares side A (and therefore everything
    * candidate-derived) DELTA-SCALED — the standing invariant of an
    * ingest gate, where a batch of arriving docs is checked against an
    * unbounded corpus. Every delta-derived frame gets a broadcast
    * hint, so the big side is only ever SCANNED (broadcast semi-joins
    * prune it, broadcast hash joins probe it) and never shuffled:
    * per-ingest shuffle volume is O(delta + candidates), independent
    * of corpus size. Without the flag (A and B both corpus-scaled)
    * every join stays shuffle-shaped. */
  private def jaccardVerifyCross(shA: DataFrame, shB: DataFrame, threshold: Double,
      candidates: DataFrame, deltaSmall: Boolean = false): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (deltaSmall) broadcast(df) else df
    val a = shA.join(bc(candidates.select(col("da").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi").select(col("doc_id").as("da"), col("s"))
    val b = shB.join(bc(candidates.select(col("db").as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi").select(col("doc_id").as("db"), col("s"))
    val inter = bc(a).join(b, Seq("s"))
      .join(bc(candidates), Seq("da", "db"), "left_semi")
      .groupBy("da", "db").agg(count(lit(1)).as("c"))
    inter
      .join(bc(sizes(shA.join(bc(candidates.select(col("da").as("doc_id")).distinct()),
          Seq("doc_id"), "left_semi"))
        .select(col("doc_id").as("da"), col("n").as("na"))), Seq("da"))
      .join(bc(sizes(shB.join(bc(candidates.select(col("db").as("doc_id")).distinct()),
          Seq("doc_id"), "left_semi"))
        .select(col("doc_id").as("db"), col("n").as("nb"))), Seq("db"))
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental near-dup dedup: which NEW documents (delta batch) are
    * near-duplicates of the EXISTING corpus? The continuous-ingest
    * shape at 100 TB: per-ingest cost is O(delta signatures) + a bucket
    * join against the corpus band index — never a delta×corpus product
    * and never a corpus re-scan per batch. In production the base band
    * index is computed once and SERVED from storage across ingests;
    * this operator takes the base docs and builds it inline (same plan
    * downstream of the stored index).
    *
    * Output: (new_doc, dup_of, jaccard) — every base doc each delta doc
    * collides with at exact shingle-Jaccard ≥ threshold; delta docs
    * absent from the output are genuinely new content. */
  def incrementalDedup(base: DataFrame, delta: DataFrame, text: Column, id: Column,
      k: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, rows: Int = 4,
      deltaBroadcast: Boolean = true): DataFrame = {
    val (shBase, baseBands) = incrementalIndex(base, text, id, k, numHashes, rows)
    incrementalDedupWith(shBase, baseBands, delta, text, id, k, threshold,
      numHashes, rows, deltaBroadcast)
  }

  /** The static side of [[incrementalDedup]], built ONCE: corpus
    * shingle postings + banded minhash buckets. Callers running many
    * delta checks against the same corpus (a streaming ingest gate)
    * cache these two frames instead of re-shingling the corpus per
    * delta — the per-ingest cost drops to O(delta). */
  def incrementalIndex(base: DataFrame, text: Column, id: Column,
      k: Int = 3, numHashes: Int = 64, rows: Int = 4): (DataFrame, DataFrame) = {
    val shBase = shingles(base, text, id, k)
    (shBase, bandedBuckets(minhashSignatures(shBase, numHashes), numHashes, rows))
  }

  /** [[incrementalDedup]] against a prebuilt [[incrementalIndex]].
    *
    * `deltaBroadcast = true` (the ingest-gate invariant, delta ≪ base)
    * broadcasts the delta's banded buckets and every candidate-derived
    * frame into the corpus-side probes, so the base side is scanned,
    * never shuffled, per batch. Hints bypass
    * `autoBroadcastJoinThreshold`, so a caller ingesting a LARGE batch
    * must pass `false` (ADVICE r4) — every join then falls back to
    * shuffle shape instead of collecting the batch onto the driver. */
  def incrementalDedupWith(shBase: DataFrame, baseBands: DataFrame,
      delta: DataFrame, text: Column, id: Column,
      k: Int = 3, threshold: Double = 0.8,
      numHashes: Int = 64, rows: Int = 4,
      deltaBroadcast: Boolean = true): DataFrame = {
    val shDelta = shingles(delta, text, id, k)
    val deltaBands = bandedBuckets(minhashSignatures(shDelta, numHashes), numHashes, rows)
    val cands = (if (deltaBroadcast) broadcast(deltaBands) else deltaBands)
      .alias("x")
      .join(baseBands.alias("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct()
    jaccardVerifyCross(shDelta, shBase, threshold, cands, deltaSmall = deltaBroadcast)
      .select(col("da").as("new_doc"), col("db").as("dup_of"), col("jaccard"))
  }

  /** Write [[incrementalIndex]] to storage in its SERVING layout — the
    * scale path for a standing ingest gate. The round-4 dedup scale
    * probe measured the cached-index plan degrading from ~3 s to ~50-57 s
    * per ingest past ~1 M corpus docs (~75 M index rows): once the
    * in-memory index spills, every delta pays a cache-thrash scan of
    * the whole corpus index — warm runs got SLOWER than cold ones.
    * Stored form instead:
    *
    *  - `bands/` — (h, doc_id), dir-partitioned by `band` and
    *    `hb = pmod(h, bandBuckets)`: a delta touches at most
    *    |delta|·bands of the bands·bandBuckets partitions, so trickle
    *    batches (the 100 TB regime) read a vanishing fraction of the
    *    index, and a worst-case batch degrades to one SEQUENTIAL
    *    columnar scan — never a memory-pressure thrash;
    *  - `shingles/` — (doc_id, s), dir-partitioned by
    *    `db = pmod(xxhash64(doc_id), docBuckets)`: the verify pass
    *    reads only partitions holding CANDIDATE docs, and candidates
    *    are near-dup-rate-sized, so the dominant (shingle) side of the
    *    index stays delta-bound regardless of corpus size;
    *  - the [[IndexManifest]] — (k, numHashes, rows, buckets), so
    *    serve-side banding can never drift from the stored corpus.
    *
    * [[incrementalDedupStored]] probes this layout with driver-side
    * bucket lists (≤ bands·bandBuckets and ≤ docBuckets literals — both
    * bounded by CONFIGURATION, not data), which Spark turns into
    * partition pruning on the two scans (pinned in ScaleSpec).
    *
    * Bucket counts default to AUTO (≤ 0): sized from the corpus doc
    * count so partitions hold thousands of docs each — a 5 k-doc corpus
    * gets a handful of directories, a 1 M-doc corpus the full 256/512
    * fan-out. Fixed counts would make the small end pay a
    * metadata-storm of near-empty directories (measured: the sf0.01
    * streaming gate went 10 s → 57 s under a hard-coded 256/512). */
  def writeIncrementalIndex(base: DataFrame, text: Column, id: Column, path: String,
      k: Int = 3, numHashes: Int = 64, rows: Int = 4,
      bandBuckets0: Int = 0, docBuckets0: Int = 0): Unit = {
    val nDocs = if (bandBuckets0 > 0 && docBuckets0 > 0) 0L else base.count()
    val bandBuckets =
      if (bandBuckets0 > 0) bandBuckets0
      else math.max(1L, math.min(256L, nDocs / 4000L)).toInt
    val docBuckets =
      if (docBuckets0 > 0) docBuckets0
      else math.max(1L, math.min(512L, nDocs / 2000L)).toInt
    val (shBase0, baseBands) = incrementalIndex(base, text, id, k, numHashes, rows)
    // both outputs derive from the shingle set; persist it so the
    // corpus is tokenized once, not once per output
    val shBase = shBase0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      baseBands
        .withColumn("hb", pmod(col("h"), lit(bandBuckets.toLong)))
        .repartition(col("band"), col("hb"))
        .write.mode("overwrite").partitionBy("band", "hb").parquet(s"$path/bands")
      shBase
        .withColumn("db", pmod(xxhash64(col("doc_id")), lit(docBuckets.toLong)))
        .repartition(col("db"))
        .write.mode("overwrite").partitionBy("db").parquet(s"$path/shingles")
      IndexManifest.write(path, IndexManifest.DedupLsh, Map("k" -> k.toLong,
        "num_hashes" -> numHashes.toLong, "rows" -> rows.toLong,
        "band_buckets" -> bandBuckets.toLong, "doc_buckets" -> docBuckets.toLong))
    } finally shBase.unpersist(): Unit
  }

  /** Fold an ACCEPTED delta batch into a [[writeIncrementalIndex]]
    * layout — the index-maintenance step that completes the ingest
    * lifecycle (build once → gate deltas → append accepted docs →
    * later deltas dedup against the GROWN corpus). Parquet `append`
    * into the same `partitionBy` dirs: the delta's bands/shingles land
    * as new files inside their (band, hb) / (db) partitions, so
    * partition pruning over the layout is unchanged and per-append
    * cost is O(delta) — never a rewrite of the stored corpus. Banding
    * parameters come from the manifest, so an appended batch can never
    * drift from the stored contract. (Compaction of many small delta
    * files is [[Layout]]'s compact operator applied per partition —
    * orthogonal, as in any LSM-shaped index.) */
  def appendToIncrementalIndex(path: String, delta: DataFrame, text: Column,
      id: Column): Unit = {
    val m = IndexManifest.read(path, IndexManifest.DedupLsh)
    val (k, numHashes, rows) = (m.int("k"), m.int("num_hashes"), m.int("rows"))
    val (bandBuckets, docBuckets) = (m.int("band_buckets"), m.int("doc_buckets"))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shDelta = shingles(delta, text, id, k).persist(lvl)
    try {
      // the two stores derive independently from the persisted delta
      // shingles — submit both write jobs at once (guide §2.6): each is
      // a small job whose wall is mostly fixed plan/schedule/commit
      // latency, and the repair contract (distinct-rewrite) already
      // covers any subset of them landing
      Par.unit(
        () => bandedBuckets(minhashSignatures(shDelta, numHashes), numHashes, rows)
          .withColumn("hb", pmod(col("h"), lit(bandBuckets.toLong)))
          .repartition(col("band"), col("hb"))
          .write.mode("append").partitionBy("band", "hb").parquet(s"$path/bands"),
        () => shDelta
          .withColumn("db", pmod(xxhash64(col("doc_id")), lit(docBuckets.toLong)))
          .repartition(col("db"))
          .write.mode("append").partitionBy("db").parquet(s"$path/shingles"))
    } finally shDelta.unpersist(): Unit
  }

  /** Compact a [[writeIncrementalIndex]] layout after appends — the
    * LSM verb completing the index lifecycle (build → gate → append →
    * COMPACT → keep serving): [[Layout.compactPartitioned]] applied to
    * both stores, rewriting only partitions that accumulated more than
    * `maxFilesPerPartition` files (each append adds ~one file per
    * touched partition, so a trickle-ingest index degrades without
    * this). Served verdicts are identical pre/post compaction — the
    * row set per partition is unchanged, only its file layout — which
    * the dedup_index_append gate proves against the batch oracle.
    * Returns the number of partitions rewritten. */
  def compactIncrementalIndex(spark: SparkSession, path: String,
      maxFilesPerPartition: Int = 1): Int =
    // independent stores — compact both concurrently (guide §2.6)
    Par.run[Int](Seq(
      () => Layout.compactPartitioned(spark, s"$path/bands", Seq("band", "hb"),
        maxFilesPerPartition),
      () => Layout.compactPartitioned(spark, s"$path/shingles", Seq("db"),
        maxFilesPerPartition))).sum

  /** Replayed-append RECOVERY for a [[writeIncrementalIndex]] layout —
    * the repair verb the other three stored-index families already
    * carry ([[Similarity.repairTfidfIndex]],
    * [[Similarity.repairKnnGraphIndex]], [[repairWinnowIndex]]), added
    * with the round-10 lifecycle conformance battery (VERDICT r9 #8):
    * both stores are duplicate-free by construction (shingles are
    * per-batch distinct; banding emits one row per (doc, band)), so a
    * blindly retried append — the same rows landed twice — repairs to
    * the exact single-applied state by distinct-rewrite. */
  def repairIncrementalIndex(spark: SparkSession, path: String): Unit = {
    Layout.distinctRewrite(spark, s"$path/bands", Seq("band", "hb"))
    Layout.distinctRewrite(spark, s"$path/shingles", Seq("db"))
  }

  /** [[incrementalDedup]] served from a [[writeIncrementalIndex]]
    * layout. EAGER (unlike the cached-index form): the two bucket-list
    * collects and the final verdict materialization run inside the
    * call, and every delta-sized temp block is freed before it
    * returns — per-ingest memory is delta-bound by construction, with
    * nothing resident between ingests. */
  def incrementalDedupStored(path: String, delta: DataFrame, text: Column, id: Column,
      threshold: Double = 0.8, deltaBroadcast: Boolean = true): DataFrame = {
    val spark = delta.sparkSession
    val m = IndexManifest.read(path, IndexManifest.DedupLsh)
    val (k, numHashes, rows) = (m.int("k"), m.int("num_hashes"), m.int("rows"))
    val (bandBuckets, docBuckets) = (m.int("band_buckets"), m.int("doc_buckets"))
    // MEMORY-RESIDENT gate tier (optimization r12, guide §1.2): when
    // the stored index fits the same broadcast-class budget the other
    // local tiers use (`spark.graft.dedup.localGateBytes`, default
    // 64 MB, 0 disables), the band probe and the Jaccard verify run
    // driver-locally over the delta's collected shingles/signatures
    // and the PRUNED store reads — the distributed gate's ~15 AQE
    // stages (two persists, two bounded collects, five joins) become
    // four jobs. Identical verdicts by construction: signatures come
    // from the SAME Spark aggregate, band hashes are the same
    // XXH64-fold the xxhash64 Column computes, and the Jaccard is the
    // same |∩| / (na + nb − c) on the same distinct shingle sets with
    // the same HALF_UP rounding (DedupSpec pins gate tier equality).
    // Past the budget — the 100 TB regime — the partition-pruned
    // distributed gate below is unchanged.
    if (Tier.localStore(spark, "incrementalDedupStored", Tier.DedupGateBytes, path))
      return incrementalDedupStoredLocal(spark, path, delta, text, id,
        threshold, k, numHashes, rows, bandBuckets, docBuckets)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shDelta = shingles(delta, text, id, k).persist(lvl)
    val deltaBands =
      bandedBuckets(minhashSignatures(shDelta, numHashes), numHashes, rows).persist(lvl)
    try {
      // the delta's touched (band, h-bucket) partition keys — at most
      // bands·bandBuckets DISTINCT values however large the delta, so
      // the collect is bounded by configuration
      val touched = deltaBands
        .select((col("band").cast("long") * bandBuckets +
          pmod(col("h"), lit(bandBuckets.toLong))).as("bk"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val bandScan = spark.read.parquet(s"$path/bands")
        .filter((col("band").cast("long") * bandBuckets + col("hb").cast("long"))
          .isin(touched: _*))
      val cands = (if (deltaBroadcast) broadcast(deltaBands) else deltaBands)
        .alias("x")
        .join(bandScan.alias("y"),
          col("x.band") === col("y.band") && col("x.h") === col("y.h"))
        .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
        .distinct().persist(lvl)
      try {
        // shingle partitions holding candidate corpus docs (≤ docBuckets
        // literals): near-dup-rate-sized candidate sets prune the
        // dominant side of the index down to delta-bound reads
        val dbs = cands.select(pmod(xxhash64(col("db")), lit(docBuckets.toLong)).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val shStored = spark.read.parquet(s"$path/shingles")
          .filter(col("db").cast("long").isin(dbs: _*))
          .select(col("doc_id"), col("s"))
        jaccardVerifyCross(shDelta, shStored, threshold, cands, deltaSmall = deltaBroadcast)
          .select(col("da").as("new_doc"), col("db").as("dup_of"), col("jaccard"))
          .localCheckpoint(true)
      } finally cands.unpersist(): Unit
    } finally { deltaBands.unpersist(); shDelta.unpersist(): Unit }
  }

  /** [[incrementalDedupStored]]'s memory-resident tier — see the gate
    * comment at the dispatch site for the equivalence argument. */
  private def incrementalDedupStoredLocal(spark: SparkSession, path: String,
      delta: DataFrame, text: Column, id: Column, threshold: Double,
      k: Int, numHashes: Int, rows: Int, bandBuckets: Int,
      docBuckets: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    def pmodL(x: Long, n: Long): Long = ((x % n) + n) % n
    val bands = minhashBandsFor(numHashes, rows)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val shDelta = shingles(delta, text, id, k).persist(lvl)
    try {
      val shD = shDelta.as[(Long, String)].collect()
      // signatures via the SAME Spark aggregate over the cached
      // shingles (one job); banding folded locally with the identical
      // XXH64 chain the xxhash64(m0..m_{r-1}) Column computes
      // (seed 42, each long folded into the running hash)
      val sigRows = minhashSignatures(shDelta, numHashes).collect()
      val deltaBands: Array[(Long, Long, Long)] = sigRows.flatMap { r =>
        val docId = r.getLong(0)
        (0 until bands).map { b =>
          var h = 42L
          var i = b * rows
          while (i < (b + 1) * rows) { h = XXH64.hashLong(r.getLong(1 + i), h); i += 1 }
          (docId, b.toLong, h)
        }
      }
      // touched (band, hb) partitions — the same combined-key pruning
      // predicate the distributed gate pushes into the scan
      val touchedKeys = deltaBands
        .map { case (_, b, h) => b * bandBuckets + pmodL(h, bandBuckets.toLong) }
        .distinct.toSeq
      val bandScan = spark.read.parquet(s"$path/bands")
        .filter((col("band").cast("long") * bandBuckets + col("hb").cast("long"))
          .isin(touchedKeys: _*))
        .select(col("band").cast("long"), col("h"), col("doc_id"))
        .as[(Long, Long, Long)].collect()
      val byKey = new java.util.HashMap[(Long, Long),
        scala.collection.mutable.ArrayBuffer[Long]]()
      bandScan.foreach { case (b, h, d) =>
        byKey.computeIfAbsent((b, h),
          _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += d
      }
      val cands: Set[(Long, Long)] = deltaBands.iterator.flatMap {
        case (da, b, h) =>
          val hit = byKey.get((b, h))
          if (hit == null) Iterator.empty else hit.iterator.map(db => (da, db))
      }.toSet
      if (cands.isEmpty)
        return Seq.empty[(Long, Long, Double)]
          .toDF("new_doc", "dup_of", "jaccard")
      // candidate corpus docs' shingle buckets only — the pruned read
      val dbs = cands.iterator.map { case (_, db) =>
        pmodL(XXH64.hashLong(db, 42L), docBuckets.toLong)
      }.toSeq.distinct
      val shStored = spark.read.parquet(s"$path/shingles")
        .filter(col("db").cast("long").isin(dbs: _*))
        .select(col("doc_id"), col("s"))
        .as[(Long, String)].collect()
      val daSet = cands.map(_._1)
      val dbSet = cands.map(_._2)
      val aSets = new java.util.HashMap[Long, java.util.HashSet[String]]()
      shD.foreach { case (d, s) =>
        if (daSet(d))
          aSets.computeIfAbsent(d, _ => new java.util.HashSet[String]()).add(s): Unit
      }
      val bSets = new java.util.HashMap[Long, java.util.HashSet[String]]()
      shStored.foreach { case (d, s) =>
        if (dbSet(d))
          bSets.computeIfAbsent(d, _ => new java.util.HashSet[String]()).add(s): Unit
      }
      val out = cands.toSeq.flatMap { case (da, db) =>
        val a = aSets.get(da)
        val b = bSets.get(db)
        // inner semantics: a candidate endpoint with no shingle rows
        // drops out, exactly the distributed semi-join chain
        if (a == null || b == null) None
        else {
          val (small, large) = if (a.size <= b.size) (a, b) else (b, a)
          var c = 0
          val it = small.iterator()
          while (it.hasNext) if (large.contains(it.next())) c += 1
          val j = c.toDouble / (a.size + b.size - c)
          if (j >= threshold)
            Some((da, db,
              BigDecimal.decimal(j)
                .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble))
          else None
        }
      }
      spark.sparkContext.parallelize(out, math.max(1, out.length / 500000))
        .toDF("new_doc", "dup_of", "jaccard")
    } finally shDelta.unpersist(): Unit
  }

  /** Connected components over an undirected edge list → (node, rep)
    * with rep = the component's minimum node id. Alternating
    * large-star/small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
    * where min-label propagation needs O(diameter) — a path graph that
    * took ~n rounds converges in ~log n (asserted in DedupSpec). Each
    * round is two groupBy-min + join passes over the EDGE list (≪
    * corpus after near-dup verification); everything is min-based, so
    * the fixpoint (stars centered at each component's minimum) is
    * deterministic.
    *
    * Memory contract: each round's edge set is materialized through an
    * RDD-level localCheckpoint (truncates the iterative lineage); the
    * superseded round's blocks are unpersisted as soon as the
    * convergence check no longer needs them, so peak block-manager
    * footprint is TWO edge lists, not one per round (the round-2 leak).
    * Only the final converged edge set stays resident — the returned
    * labels read from it. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame =
    connectedComponentsWithRounds(edges, maxIters)._1

  def connectedComponentsWithRounds(edges: DataFrame, maxIters: Int = 50): (DataFrame, Int) = {
    val spark = edges.sparkSession

    // canonical (a=hi, b=lo) orientation, self-loops dropped
    def canon(df: DataFrame): DataFrame =
      df.filter(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .distinct()

    // large-star: hook every neighbor LARGER than u to the minimum of
    // u's closed neighborhood. Emitted edges (v, m) satisfy v > u ≥ m,
    // so they are already canonical and self-loop-free.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a").as("u"), least(col("mb"), col("a")).as("m"))
      sym.join(mins, col("a") === col("u"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }

    // small-star: hook u and all its smaller neighbors to the minimum
    // of u's closed neighborhood (edges arrive canonical, so every
    // neighbor b < a and m = min neighbor).
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("a").agg(min("b").as("m"))
      val hooked = e.join(mins, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
      canon(hooked)
    }

    // materialize + truncate lineage NOW; hand back the RDD so the
    // superseded round's blocks can be freed explicitly, and the
    // materializing count so convergence needs no extra job
    // (Tungsten-level — see Iterate.ckpt)
    def ckpt(df: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow], Long) =
      Iterate.ckpt(df)

    var (e, eRdd, eCount) = ckpt(canon(edges.select(col("a"), col("b"))))
    // LOCAL CONTRACTION TIER (optimization r12, guide §1.2 — pick the
    // right distributed algorithm, which below a size floor is "don't
    // distribute the iteration"): the star-contraction rounds cost
    // ~6 exchanges + 2 jobs per round however small the edge set, and
    // every caller here feeds VERIFIED near-dup/core edges — orders of
    // magnitude smaller than the corpus. When the canonical edge set
    // fits the driver budget (`spark.graft.cc.localEdges`, default 2 M
    // edges ≈ 32 MB — the broadcast class; 0 disables), run union-find
    // with union-by-minimum directly: the labels are IDENTICAL (any
    // correct CC yields component-minimum reps — DedupSpec pins
    // local ≡ distributed on randomized graphs), rounds report 0, and
    // the log n distributed rounds remain the over-budget path (their
    // convergence pin forces the conf to 0). incrementalConnected-
    // Components inherits the tier through its contracted-graph CC.
    if (e.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType) &&
        Tier.local(spark, "connectedComponents", Tier.CcEdges, eCount)) {
      import spark.implicits._
      val es = e.as[(Long, Long)].collect()
      eRdd.unpersist(blocking = false): Unit
      val parent = new java.util.HashMap[Long, Long](es.length * 4)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path-halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp)
          x = gp
          p = parent.getOrDefault(x, x)
        }
        x
      }
      es.foreach { case (a, b) =>
        val ra = find(a)
        val rb = find(b)
        // union-by-minimum: a root only ever changes to a smaller id,
        // so the final root IS the component minimum
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val nodes = new java.util.HashSet[Long](es.length * 4)
      es.foreach { case (a, b) => nodes.add(a); nodes.add(b): Unit }
      val labelRows = {
        val it = nodes.iterator()
        val buf = new scala.collection.mutable.ArrayBuffer[(Long, Long)](nodes.size())
        while (it.hasNext) { val n = it.next(); buf += ((n, find(n))) }
        buf.toSeq
      }
      val parts = math.max(1, labelRows.length / 500000)
      val starLabels = spark.sparkContext.parallelize(labelRows, parts)
        .toDF("node", "rep")
      val selfOnly = edges.filter(col("a") === col("b"))
        .select(col("a").as("node"), col("a").as("rep")).distinct()
        .join(starLabels.select("node"), Seq("node"), "left_anti")
      return (starLabels.union(selfOnly), 0)
    }
    var rounds = 0
    var converged = false
    // NOTE on round shuffle width: pinning measured SLOWER here, twice.
    // A build-round experiment pinned shuffle.partitions to an
    // edge-count-sized width (4 at near-dup scale): ~50 % slower at
    // sf0.1. The r13 Iterate.pinnedRounds wrapper (width = session
    // default, AQE re-coalescing off) was then A/B'd at 10 M edges /
    // local[32]: 139.3 s vs 68.5 s UNPINNED (task CPU 3794 s vs
    // 1671 s, same ~2.4 GB shuffle). Star contraction re-keys between
    // a/b/sym every step, so no round-over-round co-partitioning
    // exists to preserve — coalescing's fewer/bigger tasks is pure
    // win. Kept UNPINNED deliberately (the opposite call from
    // pageRank, where the edge checkpoint is reused by key every
    // round — docs/EXPERIMENTS.md r13).
    while (!converged && rounds < maxIters) {
      val (next, nextRdd, nextCount) = ckpt(smallStar(largeStar(e)))
      // both sides are distinct sets: equal count + empty one-sided
      // difference ⇒ set equality ⇒ fixpoint (forest of min-stars)
      converged = nextCount == eCount && next.except(e).limit(1).count() == 0
      if (converged) {
        nextRdd.unpersist(blocking = false): Unit // next == e; keep e
      } else {
        eRdd.unpersist(blocking = false): Unit
        e = next; eRdd = nextRdd; eCount = nextCount
      }
      rounds += 1
    }
    require(converged, s"connected components did not converge in $maxIters rounds")
    // converged star edges are (member, component-min) pairs; centers
    // label themselves. Nodes whose ONLY edges were self-loops are
    // singleton components — canon() drops their edges, so they are
    // re-added here with rep = themselves (the operator's contract is
    // one output row per node appearing in the input).
    val starLabels = e.select(col("a").as("node"), col("b").as("rep"))
      .union(e.select(col("b").as("node"), col("b").as("rep")))
      .distinct()
    val selfOnly = edges.filter(col("a") === col("b"))
      .select(col("a").as("node"), col("a").as("rep")).distinct()
      .join(starLabels.select("node"), Seq("node"), "left_anti")
    (starLabels.union(selfOnly), rounds)
  }

  /** Cluster formation over verified near-dup pairs — the step that
    * turns pairwise output into an actionable dedup decision: every
    * document in a near-dup component maps to the component's minimum
    * doc id (keep that one, drop the rest). */
  def dedupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("node").as("doc_id"), col("rep").as("cluster_rep"))

  /** Maintain a [[connectedComponents]] labeling under an APPENDED
    * edge delta WITHOUT recomputing the full contraction — the
    * cluster-maintenance verb completing the incremental dedup
    * lifecycle (the O(delta) pair gate feeds delta pairs; this folds
    * them into the standing cluster table).
    *
    * Quotient-graph argument: contracting each existing component to
    * its representative preserves connectivity, so components of
    * (labels ∪ deltaEdges) = components of the CONTRACTED delta graph
    * (delta endpoints projected onto their reps; unseen endpoints
    * stand for themselves), un-contracted back through the label
    * table. Reps stay component-minimum ids because every projected
    * rep IS its old component's minimum and new candidate minima are
    * delta endpoints — both present in the contracted graph.
    *
    * Scale shape: the O(log n) star-contraction rounds run over
    * O(|delta| + touched components) edges ONLY; the standing label
    * table pays two single-pass hash joins (endpoint projection,
    * rep remap) — no iteration over corpus-sized state. Returns the
    * full updated (node, rep) table. */
  def incrementalConnectedComponents(labels: DataFrame,
      deltaEdges: DataFrame, maxIters: Int = 50): DataFrame = {
    val la = labels.select(col("node").as("a"), col("rep").as("ra"))
    val lb = labels.select(col("node").as("b"), col("rep").as("rb"))
    val contracted = deltaEdges.select(col("a"), col("b"))
      .join(la, Seq("a"), "left_outer")
      .join(lb, Seq("b"), "left_outer")
      .select(coalesce(col("ra"), col("a")).as("a"),
        coalesce(col("rb"), col("b")).as("b"))
    val repMap = connectedComponents(contracted, maxIters)
      .select(col("node").as("__old"), col("rep").as("__new"))
    val updated = labels
      .join(repMap, labels.col("rep") === repMap.col("__old"), "left_outer")
      .select(col("node"), coalesce(col("__new"), col("rep")).as("rep"))
    // delta endpoints never seen before enter the table labeled by the
    // contracted component they landed in (their own id was their
    // stand-in rep, so repMap carries them directly)
    val newNodes = deltaEdges.select(col("a").as("node"))
      .union(deltaEdges.select(col("b").as("node"))).distinct()
      .join(labels.select("node"), Seq("node"), "left_anti")
      .join(repMap, col("node") === col("__old"), "left_outer")
      .select(col("node"), coalesce(col("__new"), col("node")).as("rep"))
    updated.union(newNodes)
  }

  /** [[dedupClusters]] maintained incrementally: stored cluster table
    * + delta near-dup pairs → updated cluster table, via
    * [[incrementalConnectedComponents]]. */
  def dedupClustersIncremental(clusters: DataFrame,
      deltaPairs: DataFrame): DataFrame =
    incrementalConnectedComponents(
      clusters.select(col("doc_id").as("node"), col("cluster_rep").as("rep")),
      deltaPairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      .select(col("node").as("doc_id"), col("rep").as("cluster_rep"))

  /** The df-cut stage of [[winnowingOverlapJoin]], split out so the
    * ScaleSpec plan pin can assert the LeftAnti equi-join shape — the
    * operator checkpoints this frame, which hides its plan from the
    * final query's tree. */
  private[graft] def winnowingCappedFingerprints(f0: DataFrame,
      maxFpDf: Option[Int]): DataFrame =
    maxFpDf.fold(f0) { cap =>
      val hot = f0.groupBy("fp").count().filter(col("count") > cap).select("fp")
      f0.join(hot, Seq("fp"), "left_anti")
    }

  /** MOSS-style overlap detection over
    * [[CorpusOps.winnowingFingerprints]]: candidate pairs share at
    * least `minShared` distinct fingerprints, scored by containment
    * ratio shared / min(|fp_a|, |fp_b|) — the measure MOSS reports,
    * robust to one side being much longer. Winnowing's guarantee makes
    * the selection safe: any shared token run of ≥ w+k−1 tokens
    * surfaces at least one shared fingerprint, so real overlap cannot
    * be sampled away while the joined index is ~2/(w+1) the size of
    * the full shingle inverted index the Jaccard/containment joins
    * pay. Same inverted-index scale shape as [[jaccardVerify]]: the
    * self-join is bounded by per-fingerprint document frequency, never
    * pairs × corpus; boilerplate-hot fingerprints are exactly the hot
    * shingles segmentDedup removes upstream. */
  def winnowingOverlapJoin(docs: DataFrame, text: Column, id: Column,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      threshold: Double = 0.5, maxFpDf: Option[Int] = None): DataFrame = {
    val f0 = CorpusOps.winnowingFingerprints(docs, text, id, k, w)
      .select(col("doc_id"), col("fp")).distinct()
    winnowingOverlapFrom(f0, minShared, threshold, maxFpDf)
  }

  /** The overlap tail shared by the in-memory form and the stored
    * index: df-cut → size aggregate → fingerprint self-join →
    * containment filter.
    *
    * The df-cut on the join key is the same guard every other pair
    * enumerator here carries ([[shingles]]' maxShingleDf, tf-idf's
    * Σdf² switch): a boilerplate k-gram surviving window selection in
    * D docs (license headers — exactly the MOSS use case) makes its
    * pair count D², so over-common fingerprints are dropped BEFORE
    * the self-join — MOSS itself discards them as non-evidentiary.
    * Containment denominators |fp_a| shrink with the same cut (sz is
    * computed after it), which the oracle mirrors identically.
    * The (capped) fingerprint set is materialized ONCE: it feeds the
    * size aggregate and BOTH self-join sides, and under the df cut
    * each consumer would otherwise recompute the upstream expression
    * tree twice more (once for itself, once for `hot`) — measured
    * 1.7 s → 5 s at sf0.1 before this checkpoint. */
  private def winnowingOverlapFrom(f0: DataFrame, minShared: Int,
      threshold: Double, maxFpDf: Option[Int]): DataFrame = {
    val (f, _, _) = Iterate.ckpt(winnowingCappedFingerprints(f0, maxFpDf))
    val sz = f.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = f.as("a")
      .join(f.as("b"), col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val ratio = col("shared").cast("double") /
      least(col("sa.n"), col("sb.n"))
    shared
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(col("shared") >= minShared && ratio >= threshold)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        round(ratio, 6).as("overlap"))
  }

  /** Storage layout for the winnowing fingerprint index (VERDICT r7
    * #8): the 0.39×-of-shingles fingerprint table (doc_id, fp)
    * materialized once and maintained incrementally instead of
    * re-winnowed per overlap query —
    *
    *  - `fps/` — distinct (doc_id, fp), dir-partitioned by
    *    `fb = pmod(fp, fpBuckets)` (fp is already a 64-bit hash):
    *    a delta ingest gate probing new docs against the corpus
    *    touches only its own fingerprints' buckets;
    *  - the [[IndexManifest]] — (k, w, fp_buckets), so appends can
    *    never drift from the stored shingling contract.
    *
    * Bucket count auto-sizes from the corpus (≤ 0 → nDocs/2000
    * clamped to [1, 256]), the [[writeIncrementalIndex]] rule. */
  def writeWinnowIndex(docs: DataFrame, text: Column, id: Column, path: String,
      k: Int = 3, w: Int = 4, fpBuckets0: Int = 0): Unit = {
    val nDocs = if (fpBuckets0 > 0) 0L else docs.count()
    val fpBuckets = if (fpBuckets0 > 0) fpBuckets0
      else math.max(1L, math.min(256L, nDocs / 2000L)).toInt
    CorpusOps.winnowingFingerprints(docs, text, id, k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .withColumn("fb", pmod(col("fp"), lit(fpBuckets.toLong)))
      .repartition(col("fb"))
      .write.mode("overwrite").partitionBy("fb").parquet(s"$path/fps")
    IndexManifest.write(path, IndexManifest.Winnow,
      Map("k" -> k.toLong, "w" -> w.toLong, "fp_buckets" -> fpBuckets.toLong))
  }

  /** Fold a delta batch into a [[writeWinnowIndex]] layout — O(delta):
    * the delta winnows under the STORED (k, w) contract and its
    * fingerprint rows append into their `fb` partitions; no stored
    * file is read or rewritten. Compaction is
    * [[Layout.compactPartitioned]] on `fps/` (fb), as for every
    * LSM-shaped index here. */
  def appendToWinnowIndex(path: String, delta: DataFrame, text: Column,
      id: Column): Unit = {
    val m = IndexManifest.read(path, IndexManifest.Winnow)
    val (k, w) = (m.int("k"), m.int("w"))
    val fpBuckets = m.int("fp_buckets")
    CorpusOps.winnowingFingerprints(delta, text, id, k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .withColumn("fb", pmod(col("fp"), lit(fpBuckets.toLong)))
      .repartition(col("fb"))
      .write.mode("append").partitionBy("fb").parquet(s"$path/fps")
  }

  /** Replayed-append RECOVERY for a [[writeWinnowIndex]] layout
    * (ADVICE r8): a blind retry of [[appendToWinnowIndex]] lands the
    * same `(doc_id, fp)` rows twice, which would inflate shared-count
    * overlaps in [[winnowingOverlapStored]]. The stored row set is
    * distinct by construction (each batch writes `.distinct()`), so a
    * distinct-rewrite restores the exact single-applied state. Full
    * rewrite — rare recovery path; routine small-file maintenance is
    * [[Layout.compactPartitioned]]. */
  def repairWinnowIndex(spark: SparkSession, path: String): Unit =
    Layout.distinctRewrite(spark, s"$path/fps", "fb")

  /** [[winnowingOverlapJoin]] served from a [[writeWinnowIndex]]
    * layout: the corpus never re-winnows — the stored fingerprint
    * table feeds the identical df-cut + self-join tail, so served
    * pairs are value-identical to the in-memory form (the
    * dedup_winnowing_stored oracle is shared with dedup_winnowing). */
  def winnowingOverlapStored(spark: SparkSession, path: String,
      minShared: Int = 2, threshold: Double = 0.5,
      maxFpDf: Option[Int] = None): DataFrame = {
    IndexManifest.read(path, IndexManifest.Winnow): Unit
    winnowingOverlapFrom(
      spark.read.parquet(s"$path/fps").select(col("doc_id"), col("fp")),
      minShared, threshold, maxFpDf)
  }

  /** Soft dedup: keep EVERY copy but weight each document by
    * 1/|its near-dup cluster| in exact ppm — the sampling-weight
    * alternative to hard removal (total sampling mass per distinct
    * content stays 1, so duplicated content is not over-represented,
    * while no copy's unique context is lost). Singletons weigh 1.
    * Composes with any pair source exactly like
    * [[canonicalSelection]]; one size aggregate + one equi-join on the
    * cluster key the aggregate already partitioned by. */
  def softDedupWeights(docs: DataFrame, id: Column,
      pairs: DataFrame): DataFrame = {
    val base = docs.select(id.as("doc_id"))
      .join(dedupClusters(pairs), Seq("doc_id"), "left_outer")
      .withColumn("__cl", coalesce(col("cluster_rep"), col("doc_id")))
    val sz = base.groupBy("__cl").agg(count(lit(1)).as("cluster_size"))
    base.join(sz, Seq("__cl"))
      .select(col("doc_id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"))
  }

  /** Canonical-copy selection: [[dedupClusters]] decides WHICH docs
    * are duplicates; this decides which copy to KEEP — the highest
    * `quality` member of each near-dup cluster (ties to the smallest
    * id), with singletons canonical by themselves. The standard
    * curation refinement over keep-the-min-id: near-dup copies differ
    * (truncation, boilerplate, OCR noise), so the kept copy should be
    * chosen by a quality signal, not by id accident. Returns one row
    * per input doc: (doc_id, canonical_id, is_kept).
    *
    * Scale shape: the argmax is a `max_by` aggregate (map-side
    * partial, one cluster-count-sized exchange), never a per-cluster
    * sort window; the member→canonical join is an equi-join on the
    * cluster key the aggregation already partitioned by. */
  def canonicalSelection(docs: DataFrame, id: Column, quality: Column,
      pairs: DataFrame): DataFrame = {
    val base = docs.select(id.as("doc_id"), quality.as("__q"))
      .join(dedupClusters(pairs), Seq("doc_id"), "left_outer")
      .withColumn("__cl", coalesce(col("cluster_rep"), col("doc_id")))
    val canon = base.groupBy("__cl")
      .agg(max_by(col("doc_id"), struct(col("__q"), -col("doc_id")))
        .as("canonical_id"))
    base.join(canon, Seq("__cl"))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).as("is_kept"))
  }

  /** Elementwise double promotion of a float embedding. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential-fold dot product — bit-identical to the oracle's
    * list_reduce (never use a reduction whose order is unspecified when
    * an oracle must reproduce it). Codegen'd custom expression: the HOF
    * spelling (aggregate ∘ zip_with) is CodegenFallback and ~30× slower
    * on pair scans. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** (id, v, nrm) projection — norms are computed ONCE per vector, not
    * per pair; sqrt is deterministic so the value is identical to the
    * per-pair recomputation the naive formula implies. */
  def withNorm(emb: DataFrame, vec: Column, id: Column): DataFrame = {
    val v = asDouble(vec)
    emb.select(id.as("vid"), v.as("v")).withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Embedding near-dup: all candidate pairs with cosine ≥ threshold.
    * Exact (nested-loop) at verification scale; [[embeddingCosineBucketed]]
    * is the sub-quadratic candidate generator for production scale. */
  def embeddingCosinePairs(emb: DataFrame, vec: Column, id: Column,
      threshold: Double): DataFrame = {
    val e = withNorm(emb, vec, id)
    val a = e.select(col("vid").as("va"), col("v").as("xa"), col("nrm").as("na"))
    val b = e.select(col("vid").as("vb"), col("v").as("xb"), col("nrm").as("nb"))
    a.join(b, col("va") < col("vb"))
      .withColumn("cos", dot(col("xa"), col("xb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), round(col("cos"), 6).as("cos"))
  }

  /** Sign-random-projection bucket key (axis-aligned planes: the sign
    * bits of the first `bits` coordinates) — deterministic, so an SQL
    * oracle can reproduce it. Near-dup vectors (cos→1) agree on most
    * coordinate signs; pairs are only compared within a bucket. */
  def srpBucket(v: Column, bits: Int): Column =
    (0 until bits).map(i =>
      when(element_at(v, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)

  /** Bucketed embedding near-dup — the 100 TB path: shuffle by bucket,
    * compare within buckets only. Recall depends on `bits` vs the
    * similarity of the pairs sought (trade documented in DedupSpec). */
  def embeddingCosineBucketed(emb: DataFrame, vec: Column, id: Column,
      threshold: Double, bits: Int = 8): DataFrame = {
    val e = withNorm(emb, vec, id).withColumn("bucket", srpBucket(col("v"), bits))
    val a = e.select(col("bucket"), col("vid").as("va"), col("v").as("xa"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vid").as("vb"), col("v").as("xb"), col("nrm").as("nb"))
    a.join(b, Seq("bucket")).filter(col("va") < col("vb"))
      .withColumn("cos", dot(col("xa"), col("xb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("va").as("vec_a"), col("vb").as("vec_b"), round(col("cos"), 6).as("cos"))
  }
}
