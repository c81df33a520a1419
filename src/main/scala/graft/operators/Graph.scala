package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

/** Iterative graph analytics over edge lists — PageRank as the power-
  * iteration companion to Dedup.connectedComponents (the other
  * fixed-point operator in this engine). Same Pregel-on-DataFrames
  * dataflow as GraphX/GraphFrames express, but declarative: each
  * round is join(edges, ranks) → groupBy(dst).sum — partial aggregation
  * map-side, shuffle keyed by dst only.
  *
  * Determinism contract: ranks are FIXED-POINT integers (micro-units,
  * `scale` = 1.0) and every operation is integral — `div` truncation and
  * exact long sums are order-independent, so the result is bit-stable
  * across partitionings AND reproducible by the DuckDB oracle (floating
  * point would drift under Spark's nondeterministic reduce order).
  *
  * Scale shape (100 TB): the edge list with out-degrees is checkpointed
  * ONCE and re-read every round; each iteration shuffles one (node, sum)
  * pair per distinct dst per map partition. Lineage is truncated per
  * round through RDD-level localCheckpoint (the unpersistable-DataFrame
  * gotcha documented at Dedup.connectedComponentsWithRounds), superseded
  * round blocks freed immediately — peak footprint is edges + 2 rank
  * vectors regardless of iteration count.
  */
object Graph {

  /** The tier skeleton of the fixed-point operators (optimization r12,
    * guide §1.2; the budget is [[Tier.GraphEdges]]). Checkpoints
    * `input` once. Below the budget, when every input column is BIGINT,
    * it collects the rows, frees the checkpoint, runs the scalar
    * `local` kernel and returns its rows as a frame with columns `out`:
    * every operator here is integral and order-free by the determinism
    * contract, so the scalar replay is bit-identical (GraphSpec pins
    * local ≡ distributed) and the per-round exchanges vanish. Past the
    * budget the checkpoint becomes the input of the `distributed`
    * rounds' [[Iterate.Rounds]] — the 100 TB shape. */
  private def tiered[I <: Product : TypeTag, O <: Product : TypeTag : ClassTag](
      op: String, input: DataFrame, out: String*)(local: Array[I] => Seq[O])(
      distributed: Iterate.Rounds => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val (in, inRdd, n) = Iterate.ckpt(input)
    if (in.schema.forall(_.dataType == LongType) &&
        Tier.local(spark, op, Tier.GraphEdges, n)) {
      import spark.implicits._
      val rows = in.as[I].collect()
      inRdd.unpersist(blocking = false): Unit
      val res = local(rows)
      spark.sparkContext.parallelize(res, math.max(1, res.length / 500000)).toDF(out: _*)
    } else distributed(new Iterate.Rounds(in, inRdd))
  }

  /** Place + order the rounds' edge list by src ONCE (r13): under
    * pinnedRounds the checkpoint's hash(src) partitioning and [src ASC]
    * ordering satisfy every round's join requirement, so no round
    * exchanges or re-sorts the (big) edge list — only the per-round
    * state moves (guide §2.4). Unpinned operators place it too. */
  private def placedBySrc(r: Iterate.Rounds): DataFrame =
    r.place(r.input.repartition(col("src")).sortWithinPartitions("src"))

  /** The distinct seed ids, collected for a scalar kernel. */
  private def seedIds(seeds: DataFrame): Array[Long] =
    seeds.select(col("node")).distinct().as(Encoders.scalaLong).collect()

  /** `iters` rounds of damped PageRank over directed `edges(src, dst)`.
    * rank₀ = scale; rankᵢ₊₁(v) = (scale−damping) + damping·Σ_{u→v}
    * (rankᵢ(u) div outdeg(u)) div scale. Nodes = all edge endpoints
    * that appear as a source; callers wanting undirected semantics
    * symmetrize first (then every endpoint is a source). Dangling mass
    * is dropped, the standard non-normalized formulation. */
  def pageRank(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      damping: Long = 850000L, edgesDistinct: Boolean = false,
      broadcastRanks: Boolean = false): DataFrame =
    prCore(edges, iters, scale, damping, edgesDistinct, broadcastRanks, None)

  /** Personalized PageRank: identical power iteration, but ALL teleport
    * mass returns to the seed set `sources(node)` instead of spreading
    * uniformly — rank₀(v) = scale·[v∈S], rankᵢ₊₁(v) = (scale−damping)·
    * [v∈S] + damping·Σ contributions. The result ranks nodes by
    * random-walk proximity TO THE SEEDS (the "related items" /
    * seed-expansion primitive: similar-user discovery, topic-local
    * authority, trust propagation), not by global centrality. Seeds are
    * a seed-set-scale frame → broadcast into the flag join; everything
    * else (checkpoint hygiene, overflow-safe integral arithmetic,
    * broadcastRanks regime) is [[pageRank]]'s. */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame, iters: Int,
      scale: Long = 1000000L, damping: Long = 850000L,
      edgesDistinct: Boolean = false, broadcastRanks: Boolean = false): DataFrame =
    prCore(edges, iters, scale, damping, edgesDistinct, broadcastRanks, Some(sources))

  private def prCore(edges: DataFrame, iters: Int, scale: Long,
      damping: Long, edgesDistinct: Boolean,
      broadcastRanks: Boolean, sources: Option[DataFrame]): DataFrame = {
    val spark = edges.sparkSession
    val base = scale - damping

    // `edgesDistinct = true` lets callers that already deduplicated (or
    // construct provably duplicate-free edges, e.g. a symmetrized
    // distinct bipartite list) skip a full edge-list shuffle here
    val e0 = edges.select(col("src"), col("dst"))
    val e = if (edgesDistinct) e0 else e0.distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val op = if (sources.isEmpty) "pageRank" else "personalizedPageRank"
    // (src, dst, outdeg) materialized once, reused by every round
    tiered(op, e.join(deg, "src"), "node", "rank") { (rows: Array[(Long, Long, Long)]) =>
      import spark.implicits._
      val seedSet: Set[Long] = sources match {
        case None => null
        case Some(s) => s.select(col("node")).as[Long].collect().toSet
      }
      val isrc = new java.util.HashMap[Long, Long](rows.length * 2)
      rows.foreach { case (u, _, _) =>
        if (!isrc.containsKey(u))
          isrc.put(u, if (seedSet == null || seedSet(u)) 1L else 0L): Unit
      }
      val ranks = new java.util.HashMap[Long, Long](isrc.size() * 2)
      isrc.forEach((n, f) => ranks.put(n, f * scale): Unit)
      for (_ <- 1 to iters) {
        val sums = new java.util.HashMap[Long, Long](isrc.size() * 2)
        rows.foreach { case (u, v, od) =>
          val r = ranks.get(u) // every src is a node — always present
          if (r > 0L) { // matches the rank>0 pre-filter (a no-op on sums)
            val c = r / od
            sums.merge(v, c, (a, b) => a + b): Unit
          }
        }
        isrc.forEach { (n, f) =>
          val s = sums.getOrDefault(n, 0L) // contribs to non-nodes drop (left join)
          ranks.put(n,
            base * f + damping * (s / scale) + (damping * (s % scale)) / scale): Unit
        }
      }
      ranks.asScala.toSeq
    } { r =>
    // DISTRIBUTED branch runs under the pinned round width (r13, guide
    // §2.4 — see Iterate.pinnedRounds): every round's exchange lands at
    // one width, so the placed edge checkpoint keeps satisfying the
    // per-round join requirement. The below-budget path runs unpinned
    // (AQE coalescing wins for the one-shot edge build).
    Iterate.pinnedRounds(spark) {
    val edP = placedBySrc(r)
    // nodes materialized once too — left lazy it would re-run a full
    // edge-list distinct inside EVERY round's plan (6× the edge scan)
    // (personalized: the 0/1 seed flag rides along in the same
    // checkpoint, so the per-round teleport term is a column read,
    // never a re-join)
    val nodesBare = edP.select(col("src").as("node")).distinct()
    val nodes = r.hold(sources match {
      case None => nodesBare.withColumn("__isrc", lit(1L))
      case Some(s) => nodesBare
        .join(broadcast(s.select(col("node"), lit(1L).as("__isrc"))), Seq("node"), "left")
        .select(col("node"), coalesce(col("__isrc"), lit(0L)).as("__isrc"))
    })

    var ranks = nodes.select(col("node"), (col("__isrc") * scale).as("rank"))
    for (_ <- 1 to iters) {
      // `broadcastRanks`: when the node set is dimension-scale (fits an
      // executor), shipping the rank table to the edge partitions keeps
      // the big edge list entirely UNSHUFFLED every round — the only
      // exchange left is the map-side-combined contribution aggregate.
      // At billion-node scale leave it false: the shuffle join is the
      // partitioned-edge (Pregel-style) shape.
      // rank-0 nodes contribute nothing — dropping them before the join
      // is a no-op for uniform PageRank (ranks ≥ base > 0 always) but
      // keeps personalized rounds FRONTIER-sized while mass is still
      // spreading out from the seeds
      val rhs0 = ranks.filter(col("rank") > 0)
      val rhs = if (broadcastRanks) broadcast(rhs0) else rhs0
      val contribs = edP.join(rhs, edP("src") === ranks("node"))
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      // (damping·s) div scale via the exact identity
      //   damping·(q·scale + r) div scale = damping·q + (damping·r) div scale
      // — the naive product overflows BIGINT under ANSI mode once a hub
      // accumulates ~1.1e13 micro-units (a 10^7-in-degree hub at full
      // rank, i.e. exactly the Zipf-hub regime at billion-node scale);
      // each decomposed term stays under 2^63 up to ~10^13 nodes
      ranks = r.step(nodes.join(
          if (broadcastRanks) broadcast(contribs) else contribs, Seq("node"), "left")
        .select(col("node"),
          expr(s"CAST($base * __isrc + $damping * (coalesce(s, 0) div $scale) " +
            s"+ ($damping * (coalesce(s, 0) % $scale)) div $scale AS BIGINT)").as("rank")))
    }
    // the ranks read their own checkpoint (after no round, the nodes
    // one): the edge copy goes now rather than leaking for the session
    // lifetime (the round-2 block-manager-leak class)
    r.free(ranks)
    } // pinnedRounds
    }
  }

  /** Exact triangle count over undirected `edges(u, v)` (distinct,
    * canonical u < v). Node-iterator with DEGREE ORIENTATION
    * (Ortmann/Brandes; the MapReduce classic is Suri & Vassilvitskii's
    * MR-NodeIterator++): every edge is directed from its lower endpoint
    * to its higher endpoint under the total order (degree, id), wedges
    * are built only at each edge's LOW node, and a wedge counts iff the
    * closing edge exists. Each triangle has exactly one minimum vertex
    * under the order, so it is counted exactly once.
    *
    * Scale shape: orientation bounds every node's out-degree by
    * O(√|E|), so the wedge join produces Σ outdeg² = O(|E|^1.5) rows
    * worst-case — the best possible for exact counting — instead of the
    * Σ deg² blowup a hub node causes without orientation. All three
    * steps are equi-joins (degree join, wedge self-join on the low
    * node, closing-edge LEFT SEMI); nothing is broadcast-sized by
    * assumption, nothing is quadratic in nodes. */
  def triangleCount(edges: DataFrame): DataFrame =
    orientedTriangles(edges)._1.agg(count(lit(1)).as("triangles"))

  /** [[triangleCount]]'s triangles, one row each: (b1, b2, a, …) with
    * `a` the minimum corner under (degree, id) — plus the degree table
    * (n, d) the orientation ranked by. */
  private def orientedTriangles(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("u"), col("v"))
    val deg = e.select(col("u").as("n")).union(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    // orient low → high under (degree, id); carry the head's order key
    // so wedge endpoints can be ordered without re-joining degrees
    val uLow = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uLow, col("u")).otherwise(col("v")).as("a"),
      when(uLow, col("v")).otherwise(col("u")).as("b"),
      when(uLow, col("dv")).otherwise(col("du")).as("db"))
    val e1 = oriented.select(col("a"), col("b").as("b1"), col("db").as("db1"))
    val e2 = oriented.select(col("a"), col("b").as("b2"), col("db").as("db2"))
    val tri = e1.join(e2, "a")
      .where(col("db1") < col("db2") ||
        (col("db1") === col("db2") && col("b1") < col("b2")))
      .join(oriented.select(col("a").as("b1"), col("b").as("b2")),
        Seq("b1", "b2"), "left_semi")
    (tri, deg)
  }

  /** Per-node local clustering coefficient: lcc(n) = 2·t(n) /
    * (d(n)·(d(n)−1)) with t(n) = triangles containing n — the
    * node-level companion of the global coefficient (how clique-like
    * each node's neighborhood is; the ego-density feature link
    * prediction and spam detection consume). Triangles are enumerated
    * ONCE via [[triangleCount]]'s degree orientation, then each
    * triangle credits its three corners — an explode + count, never a
    * per-node neighborhood join. Exact integer ppm (truncating, both
    * operands nonnegative); degree-1 nodes have no defined coefficient
    * and report NULL. Input contract: distinct undirected edges as
    * (u, v) pairs. */
  def localClustering(edges: DataFrame): DataFrame = {
    val (tri, deg) = orientedTriangles(edges)
    val corners = tri
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("t"))
    deg.join(corners, Seq("n"), "left_outer")
      .na.fill(0L, Seq("t"))
      .select(col("n").as("node"), col("d").as("degree"),
        col("t").as("triangles"),
        when(col("d") >= 2,
          expr("t * 2000000 div (d * (d - 1))")).as("lcc_ppm"))
  }

  /** Scalar BFS over `adj` from the `start` set (hop 0), up to
    * `maxHops` hops: each reached node's minimum hop count. [[bfs]]
    * starts from every seed at once, [[multiSourceHops]] from one seed
    * at a time. */
  private def hops(adj: Map[Long, Array[Long]], start: Array[Long],
      maxHops: Int): java.util.HashMap[Long, Int] = {
    val d = new java.util.HashMap[Long, Int]()
    start.foreach(n => d.put(n, 0): Unit)
    var frontier = start
    var hop = 0
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = scala.collection.mutable.ArrayBuffer.empty[Long]
      frontier.foreach { u =>
        adj.getOrElse(u, Array.empty[Long]).foreach { v =>
          if (!d.containsKey(v)) { d.put(v, hop); next += v }
        }
      }
      frontier = next.toArray
    }
    d
  }

  /** Multi-source BFS: minimum hop distance from any seed, up to
    * `maxHops` rounds, over directed `edges(src, dst)`. Returns
    * (node, dist) for every reached node (seeds at 0). Frontier-
    * restricted expansion: round i only expands nodes first reached at
    * round i−1, so total join work is O(Σ frontier-degree) = O(|E|)
    * across all rounds, not O(|E|·rounds). Distances are integers and
    * min() is order-free — bit-stable, oracle-reproducible.
    *
    * Scale shape: edges checkpointed once; the distance vector (≤ one
    * row per reached node) is the only per-round state, checkpointed
    * with superseded blocks freed (Iterate.Rounds). */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      broadcastFrontier: Boolean = false): DataFrame =
    // local tier: hop distances are integers under an order-free min —
    // the scalar BFS is bit-identical
    tiered("bfs", edges.select(col("src"), col("dst")), "node", "dist") {
      (rows: Array[(Long, Long)]) =>
        val adj = rows.groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
        hops(adj, seedIds(seeds), maxHops).asScala.toSeq
    } { r =>
    // UNPINNED, deliberately (A/B'd at 10 M edges, docs/EXPERIMENTS.md
    // r13): the frontier collapses after the first hops, so most
    // rounds are tiny and AQE's coalescing + runtime broadcast-join
    // conversion win (pin measured ~2× slower task CPU, twice);
    // contrast sssp/LPA, whose frontiers stay full and where the pin
    // wins ~2×. The src placement still applies in both modes.
    val eP = placedBySrc(r)
    var dist = r.step(seeds.select(col("node")).distinct().withColumn("dist", lit(0)))
    for (i <- 1 to maxHops) {
      // broadcastFrontier: same trade as pageRank's broadcastRanks — a
      // dimension-scale frontier ships to the edge partitions so the
      // edge list never re-shuffles per hop
      val frontier = dist.where(col("dist") === i - 1)
      val cand = (if (broadcastFrontier) broadcast(frontier) else frontier)
        .join(eP, col("node") === col("src"))
        .select(col("dst").as("node"), lit(i).as("dist"))
      dist = r.step(dist.union(cand).groupBy("node").agg(min("dist").as("dist")))
    }
    r.free(dist)
    }

  /** Per-seed hop distances — [[bfs]] keyed by (seed, node) instead of
    * collapsing to the min over all seeds: seed s's BFS tree stays
    * separate, which is what per-seed centralities need. State is
    * ≤ |seeds|·|V| rows by construction, so the seed set must be
    * BOUNDED (a sample — the standard regime for centrality at scale);
    * the per-round shape is [[bfs]]'s exactly (frontier-restricted
    * expansion, order-free min merge, checkpoint per round). */
  def multiSourceHops(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    // local tier: per-seed BFS, bit-identical to the keyed min-merge
    // rounds for the same reason [[bfs]]'s is
    tiered("multiSourceHops", edges.select(col("src"), col("dst")),
        "seed", "node", "dist") { (rows: Array[(Long, Long)]) =>
      val adj = rows.groupBy(_._1).map { case (s, a) => s -> a.map(_._2) }
      seedIds(seeds).toSeq.flatMap { s =>
        hops(adj, Array(s), maxHops).asScala.map { case (n, d) => (s, n, d) }
      }
    } { r =>
    // unpinned like [[bfs]] — per-seed frontiers collapse the same way
    val eP = placedBySrc(r)
    var dist = r.step(seeds.select(col("node")).distinct()
      .select(col("node").as("seed"), col("node"), lit(0).as("dist")))
    for (i <- 1 to maxHops) {
      val frontier = dist.where(col("dist") === i - 1)
      val cand = frontier.join(eP, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"), lit(i).as("dist"))
      dist = r.step(dist.union(cand)
        .groupBy("seed", "node").agg(min("dist").as("dist")))
    }
    r.free(dist)
    }

  /** Harmonic centrality (Boldi & Vigna, "Axioms for centrality",
    * 2014) for a bounded seed sample: H(s) = Σ_{v≠s} 1/d(s,v), the
    * closeness variant that handles disconnected graphs (unreached
    * nodes contribute 0 instead of poisoning a mean). Distances from
    * [[multiSourceHops]] truncated at `maxHops` — the standard
    * bounded-radius approximation; report in exact integer ppm
    * (Σ 1000000 div d — order-free BIGINT sum, oracle-reproducible
    * where a float Σ1/d would be fold-order-dependent). */
  def harmonicCentrality(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame =
    multiSourceHops(edges, seeds, maxHops)
      .groupBy("seed")
      .agg(
        sum(when(col("dist") > 0, expr("1000000 div dist")).otherwise(lit(0L)))
          .as("harmonic_ppm"),
        (count(lit(1)) - 1).as("n_reached"))

  /** `rounds` rounds of Bellman–Ford single/multi-source shortest paths
    * over weighted `edges(src, dst, w)` (w BIGINT ≥ 0): dist₀(seed) = 0;
    * distᵢ(v) = min over paths of ≤ i edges. Returns (node, dist) for
    * every node reached within `rounds` hops.
    *
    * The relaxation is FRONTIER-restricted (SPFA-style): round i only
    * expands nodes whose distance improved in round i−1 — a settled
    * node's candidates are duplicates of ones already folded into the
    * running min, so the result is provably identical to full
    * Bellman–Ford relaxation (what the unrolled oracle replays) while
    * the join work per round shrinks with the frontier. Distances are
    * exact BIGINTs and min() is order-free — bit-stable, oracle-
    * reproducible.
    *
    * Scale shape: edges checkpointed once; per-round state is the
    * distance vector (≤ one row per reached node) + the improved-set
    * frontier, both checkpointed with superseded blocks freed. Early
    * exit when a round improves nothing. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame =
    // local tier: exact BIGINT distances under an order-free min — the
    // scalar frontier relaxation is bit-identical to the keyed
    // min-merge rounds, including the improved-flag semantics (a tie
    // keeps the settled distance)
    tiered("sssp", edges.select(col("src"), col("dst"), col("w")), "node", "dist") {
      (rows: Array[(Long, Long, Long)]) =>
      val adj = rows.groupBy(_._1).map { case (s, a) => s -> a.map(e => (e._2, e._3)) }
      val d = new java.util.HashMap[Long, Long]()
      var frontier: Array[Long] = seedIds(seeds)
      frontier.foreach(n => d.put(n, 0L): Unit)
      var i = 0
      while (i < rounds && frontier.nonEmpty) {
        // snapshot ROUND-START distances for the frontier: the
        // distributed round relaxes from `cur`, so an in-round
        // improvement must not feed later relaxations of the same
        // round (it propagates next round)
        val startDist = frontier.map(u => (u, d.get(u)))
        val improved = scala.collection.mutable.LinkedHashSet.empty[Long]
        startDist.foreach { case (u, du) =>
          adj.getOrElse(u, Array.empty[(Long, Long)]).foreach { case (v, w) =>
            val nd = du + w
            val old = d.get(v)
            // strict improvement only — a tie keeps the settled row
            // (min(struct(dist, tag)) prefers tag 0 on equal dist);
            // two same-round candidates for v fold to their min, same
            // as the keyed aggregate
            if (!d.containsKey(v) || nd < old) { d.put(v, nd); improved += v: Unit }
          }
        }
        frontier = improved.toArray
        i += 1
      }
      d.asScala.toSeq
    } { r =>
    // the distance vector carries an `improved` flag from the round
    // that produced it — the next round's frontier at zero extra cost:
    // candidates tag 1, carried distances tag 0, and min(struct(dist,
    // tag)) both takes the min distance AND records whether a candidate
    // strictly won (a tie keeps tag 0 — settled, not improved). One
    // aggregation and ONE checkpoint per round; the first version's
    // separate improved-set join tripled the per-round
    // materializations (measured 14.1 s at sf0.1, vs pageRank's 3.3 s
    // over the same graph with one checkpoint per round).
    // DISTRIBUTED rounds run PINNED (A/B at 10 M edges: 46.1 s pinned
    // vs 95.6 s unpinned — the frontier here never settles, so every
    // round re-joins the placed edges and co-partitioning pays;
    // docs/EXPERIMENTS.md r13)
    Iterate.pinnedRounds(edges.sparkSession) {
    val eP = placedBySrc(r)
    var cur = r.step(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).withColumn("improved", lit(true)))
    var i = 0
    var done = false
    while (i < rounds && !done) {
      val cand = cur.where(col("improved")).join(eP, col("node") === col("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"),
          lit(1).as("tag"))
      val base = cur.select(col("node"), col("dist"), lit(0).as("tag"))
      cur = r.step(base.union(cand).groupBy("node")
        .agg(min(struct(col("dist"), col("tag"))).as("best"))
        .select(col("node"), col("best.dist").as("dist"),
          (col("best.tag") === 1).as("improved")))
      // early exit scans the fresh checkpoint — no shuffle
      done = cur.where(col("improved")).isEmpty
      i += 1
    }
    r.free(cur.select(col("node"), col("dist")))
    } // pinnedRounds
    }

  /** `iters` rounds of synchronous label propagation (community
    * detection; Raghavan et al. 2007) over symmetrized `edges(src,
    * dst)`: label₀(v) = v; labelᵢ₊₁(v) = the most frequent label among
    * v's neighbors, ties broken toward the SMALLEST label. Returns
    * (node, label).
    *
    * Determinism contract: the async/random-order variant of LPA is
    * famously unstable; this is the synchronous variant with a total
    * (count DESC, label ASC) tie order, so the result is a pure
    * function of the graph — bit-stable across partitionings and
    * replayable by the DuckDB oracle.
    *
    * The per-node argmax is a hash AGGREGATION, not a window: (count,
    * label) packs into one monotonic BIGINT — `cnt · 2³² + (2³² − 1 −
    * label)` — whose max is "max count, then min label". A hub node
    * with 10⁸ neighbors costs one map-side partial max, where a
    * row_number window would sort the full neighbor-label list in one
    * task. Requires label ids < 2³² and neighbor counts < 2³¹ —
    * documented contract, not checked row-by-row (a check would cost a
    * pass); for wider id spaces dense-rank node ids first.
    *
    * Scale shape: edges checkpointed once; each round shuffles once by
    * (dst, label) and once by dst — both with map-side combine; the
    * label vector (one row per node) is the only per-round state,
    * superseded checkpoints freed (same dataflow as [[pageRank]]). */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val B = 4294967296L // 2^32: pack (cnt, label) monotonically
    // local tier: the synchronous update with the (count DESC, label
    // ASC) tie order is a pure function of the graph — the scalar
    // replay uses the SAME monotonic packing, so labels are
    // bit-identical to the keyed aggregate rounds
    tiered("labelPropagation", edges.select(col("src"), col("dst")), "node", "label") {
      (rows: Array[(Long, Long)]) =>
      var labels = new java.util.HashMap[Long, Long]()
      rows.foreach { case (s, _) => labels.putIfAbsent(s, s): Unit }
      for (_ <- 1 to iters) {
        // per (dst, srcLabel) counts, then per-dst max of the packed
        // (cnt · B + (B−1−label)) — exactly the distributed aggregate;
        // note the re-keying: after one round the label table is keyed
        // by nodes that appear as a DST (join → groupBy(dst)), so
        // src-only nodes drop out, mirrored here by building the next
        // table from dst keys only
        val cnt = new java.util.HashMap[(Long, Long), Long]()
        rows.foreach { case (s, dd) =>
          if (labels.containsKey(s)) {
            cnt.merge((dd, labels.get(s)), 1L, (a, b) => a + b): Unit
          }
        }
        val packed = new java.util.HashMap[Long, Long]()
        cnt.forEach { (k, c) =>
          val p = c * B + (B - 1L - k._2)
          packed.merge(k._1, p, (a, b) => math.max(a, b)): Unit
        }
        val next = new java.util.HashMap[Long, Long](packed.size() * 2)
        packed.forEach((n, p) => next.put(n, B - 1L - (p % B)): Unit)
        labels = next
      }
      labels.asScala.toSeq
    } { r =>
    // DISTRIBUTED rounds run PINNED (A/B at 10 M edges: 34.4 s pinned
    // vs 58.9 s unpinned — every node relabels every round, so the
    // placed edge join pays each round; docs/EXPERIMENTS.md r13)
    Iterate.pinnedRounds(edges.sparkSession) {
    val eP = placedBySrc(r)
    var labels = r.step(eP.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label")))
    for (_ <- 1 to iters) {
      labels = r.step(labels.join(eP, col("node") === col("src"))
        .groupBy(col("dst"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(col("cnt") * B + (lit(B - 1) - col("label"))).as("packed"))
        .select(col("dst").as("node"),
          (lit(B - 1) - pmod(col("packed"), lit(B))).as("label")))
    }
    r.free(labels)
    } // pinnedRounds
    }
  }

  /** `iters` rounds of k-core peeling over symmetrized `edges(src,
    * dst)`: repeatedly delete nodes with degree < k (and their edges);
    * the fixed point is the maximal subgraph where every node has ≥ k
    * neighbors (Seidman 1983). Returns (node, core_deg) — each
    * surviving node with its degree inside the surviving subgraph.
    * A FIXED round count keeps the operator oracle-replayable; callers
    * wanting the true fixed point pick iters ≥ the graph's degeneracy
    * ordering depth (convergence is detectable as a no-op round).
    *
    * Scale shape: the edge list only ever SHRINKS — each round is one
    * degree aggregation (map-side combine) + two LEFT SEMI joins
    * against the ≤node-sized survivor set, with the shrunken edge list
    * checkpointed and the superseded round freed. No round ever
    * shuffles more than the current subgraph. */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame =
    // local tier: peeling is a pure set fixpoint (degree counts and
    // semi-joins), bit-identical locally
    tiered("kCore", edges.select(col("src"), col("dst")), "node", "core_deg") {
      (rows0: Array[(Long, Long)]) =>
      var rows = rows0
      for (_ <- 1 to iters) {
        val deg = new java.util.HashMap[Long, Long]()
        rows.foreach { case (s, _) => deg.merge(s, 1L, (a, b) => a + b): Unit }
        rows = rows.filter { case (s, d) =>
          deg.getOrDefault(s, 0L) >= k && deg.getOrDefault(d, 0L) >= k
        }
      }
      val core = new java.util.HashMap[Long, Long]()
      rows.foreach { case (s, _) => core.merge(s, 1L, (a, b) => a + b): Unit }
      core.asScala.toSeq
    } { r =>
    // unpinned like CC: the rounds re-checkpoint a SHRINKING edge list
    // and the second semi-join is keyed by dst — no stable
    // co-partitioning to preserve, so AQE coalescing's fewer/bigger
    // tasks win (the CC A/B at 10 M edges, docs/EXPERIMENTS.md r13)
    var e = r.input
    for (_ <- 1 to iters) {
      val keep = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("node"))
      e = r.step(e
        .join(keep, e("src") === keep("node"), "left_semi")
        .join(keep, e("dst") === keep("node"), "left_semi"))
    }
    r.free(e.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg")))
    }

  /** Newman modularity of a node labeling over symmetrized `edges(src,
    * dst)` — the evaluation metric for [[labelPropagation]]'s
    * communities: Q = Σ_c [ m_c/|E| − (d_c/|E|)² ] with m_c = intra-
    * community rows of the symmetric edge list, d_c = Σ degrees in c,
    * |E| = 2m. Returns ONE row (n_communities, m2, q_num, modularity):
    * q_num = Σ_c (m_c·|E| − d_c²) is EXACT BIGINT (Q = q_num/|E|², so
    * the oracle hash-matches the integer; the double division is one
    * deterministic IEEE op). Requires |E| < 3·10⁹ for the |E|²
    * intermediate — beyond that, scale q_num by a sampled denominator.
    *
    * Scale shape: two label joins keyed on the edge endpoints (labels
    * are node-sized — broadcast at dimension scale, shuffle join
    * beyond), then label-keyed partial aggregates; nothing quadratic. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val m2 = e.agg(count(lit(1)).as("m2"))
    val la = labels.select(col("node").as("src"), col("label").as("ls"))
    val lb = labels.select(col("node").as("dst"), col("label").as("ld"))
    val tagged = e.join(la, "src").join(lb, "dst")
    val deg = tagged.groupBy(col("ls").as("label")).agg(count(lit(1)).as("dc"))
    val intra = tagged.filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("label")).agg(count(lit(1)).as("mc"))
    deg.join(intra, Seq("label"), "left")
      .na.fill(0L, Seq("mc"))
      .join(broadcast(m2), lit(true))
      .select(col("label"), (col("mc") * col("m2") - col("dc") * col("dc")).as("num"),
        col("m2"))
      .agg(count(lit(1)).as("n_communities"), max(col("m2")).as("m2"),
        sum(col("num")).as("q_num"))
      .select(col("n_communities"), col("m2"), col("q_num"),
        round(col("q_num") / (col("m2") * col("m2")).cast("double"), 6)
          .as("modularity"))
  }

  /** The centre-keyed wedges (x, u, v), u < v, of symmetrized
    * `edges(src, dst)` — Σ deg² rows like any wedge enumeration — plus
    * the degree table (x, d). */
  private def centreWedges(edges: DataFrame): (DataFrame, DataFrame) = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("x")).agg(count(lit(1)).as("d"))
    val wedges = e.select(col("src").as("x"), col("dst").as("u"))
      .join(e.select(col("src").as("x"), col("dst").as("v")), "x")
      .where(col("u") < col("v"))
    (wedges, deg)
  }

  /** Adamic–Adar link prediction (Adamic & Adar, 2003) over
    * symmetrized edges: AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) —
    * [[commonNeighbors]]' rare-neighbor-weighted refinement (a shared
    * hub says little; a shared degree-2 node says a lot). Per-wedge
    * terms are rounded to integer micros BEFORE the sum, so the
    * aggregate is an exact order-free BIGINT (a float Σ would be
    * fold-order-dependent); wedge centers have deg ≥ 2, so ln > 0.
    * Same Σ deg² wedge-enumeration shape as commonNeighbors, with the
    * degree joined at the CENTER before grouping. */
  def adamicAdar(edges: DataFrame, minCommon: Int): DataFrame = {
    val (wedges, deg) = centreWedges(edges)
    wedges
      .join(deg, "x")
      .select(col("u"), col("v"),
        round(lit(1000000.0) / log(col("d").cast("double")), 0)
          .cast("long").as("t"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("common"), sum(col("t")).as("aa_micros"))
      .filter(col("common") >= minCommon)
  }

  /** Common-neighbors link prediction over symmetrized `edges(src,
    * dst)`: for every unordered node pair (u, v) with ≥ `minCommon`
    * shared neighbors, the common-neighbor count and the neighborhood-
    * Jaccard score in exact ppm — the classic link-prediction /
    * you-may-know features (Liben-Nowell & Kleinberg, CIKM'03).
    * Includes already-linked pairs (callers anti-join existing edges to
    * get candidates only — kept as output so the operator doubles as a
    * same-neighborhood similarity join).
    *
    * Scale shape: one wedge self-join keyed on the CENTER node —
    * Σ deg² rows like any wedge enumeration, applied to pre-thinned
    * graphs (the triangle operator's orientation trick does not apply:
    * a wedge must be counted at its center, not its minimum endpoint).
    * Degrees join in at node cardinality; arithmetic is all integer —
    * ppm by truncating division, bit-stable and oracle-replayable. */
  def commonNeighbors(edges: DataFrame, minCommon: Int): DataFrame = {
    val (wedges, deg) = centreWedges(edges)
    val cn = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    cn.join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("common"),
        expr("common * 1000000 div (du + dv - common)").as("jaccard_ppm"))
  }
}
