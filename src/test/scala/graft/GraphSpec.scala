package graft

import graft.operators.{Graph, Tier}
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {

  /** Naive single-machine reimplementation of the exact integer
    * recurrence — the operator must reproduce it bit-for-bit. */
  private def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = e.map(_._1).distinct
    var ranks = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => ranks.getOrElse(u, 0L) / deg(u) }.sum).toMap
      ranks = nodes.map(n => n -> (150000L + (850000L * in.getOrElse(n, 0L)) / 1000000L)).toMap
    }
    ranks
  }

  test("pageRank matches the exact integer recurrence on a directed graph") {
    import spark.implicits._
    // 1 is a hub; 4 only links out; 2↔3 cycle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 1L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive(edges, 5))
  }

  test("pageRank is partitioning-invariant (exact integer determinism)") {
    import spark.implicits._
    val edges = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1), (i, (i * 7) % 40 + 1)))
    val a = Graph.pageRank(edges.toDF("src", "dst").repartition(1), 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRank(edges.toDF("src", "dst").repartition(13), 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("symmetric cycle is a fixed point at rank = scale") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, 3).collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1000000L, 1000000L))
  }

  /** Seed-gated twin of [[naive]]. */
  private def naivePpr(edges: Seq[(Long, Long)], seeds: Set[Long],
      iters: Int): Map[Long, Long] = {
    val e = edges.distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = e.map(_._1).distinct
    var ranks = nodes.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view
        .mapValues(_.map { case (u, _) => ranks.getOrElse(u, 0L) / deg(u) }.sum).toMap
      ranks = nodes.map(n => n ->
        ((if (seeds(n)) 150000L else 0L) + (850000L * in.getOrElse(n, 0L)) / 1000000L)).toMap
    }
    ranks
  }

  test("personalizedPageRank matches the seed-gated recurrence; mass stays seed-local") {
    import spark.implicits._
    // two components: {1,2,3} cyclic, {10,11} cyclic — seeds only in
    // the first, so the second must stay at rank 0 forever
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (10L, 11L), (11L, 10L))
    val seeds = Set(1L)
    val got = Graph.personalizedPageRank(
        edges.toDF("src", "dst"), Seq(1L).toDF("node"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naivePpr(edges, seeds, 5))
    assert(got(10L) == 0L && got(11L) == 0L)
    assert(got(1L) > got(3L), "seed must outrank a non-seed in its component")
    // degenerate seeds-everywhere run IS uniform PageRank
    val nodes = edges.map(_._1).distinct
    val all = Graph.personalizedPageRank(
        edges.toDF("src", "dst"), nodes.toDF("node"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uni = Graph.pageRank(edges.toDF("src", "dst"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == uni)
  }

  /** All C(n,3) vertex triples with pairwise edges — the O(n³) truth. */
  private def naiveTriangles(edges: Seq[(Long, Long)]): Long = {
    val es = edges.map { case (u, v) => (u min v, u max v) }.toSet
    val vs = es.flatMap { case (u, v) => Seq(u, v) }.toSeq.sorted
    vs.combinations(3).count {
      case Seq(x, y, z) => es((x, y)) && es((x, z)) && es((y, z))
      case _            => false
    }
  }

  test("degree-oriented triangle count matches the all-triples truth") {
    import spark.implicits._
    // two overlapping cliques K4{1..4} and K3{4,5,6}, a pendant, a
    // 4-cycle (no triangle), and a hub touching everything once
    val cliques =
      (1L to 4L).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq ++
        Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L),
          (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)) ++
        (1L to 13L).map(i => (20L, i))
    val got = Graph.triangleCount(cliques.toDF("u", "v")).head().getLong(0)
    assert(got == naiveTriangles(cliques), s"got $got")
    // K4 has 4 triangles, K3 one, hub closes one per clique edge (7+3... )
    assert(got >= 5)
  }

  test("bfs computes min hop distances and leaves unreachable nodes out") {
    import spark.implicits._
    // path 1-2-3-4-5 plus shortcut 1-4; 9 isolated-from-seed
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L), (8L, 9L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val got = Graph.bfs(edges, Seq(1L).toDF("node"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2))
  }

  test("triangle count matches the all-triples truth on random graphs (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // random undirected graphs: 18 nodes, each possible edge kept i.i.d.
    val pairs = (1L to 18L).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val mask = Gen.listOfN(pairs.size, Gen.chooseNum(0, 99))
    for (i <- 0 until 6) {
      val keep = mask.apply(Gen.Parameters.default, Seed(5000 + i)).get
      val p = 15 + 10 * i // densities 15%..65%
      val edges = pairs.zip(keep).collect { case (e, m) if m < p => e }
      if (edges.nonEmpty) {
        val got = Graph.triangleCount(edges.toDF("u", "v")).head().getLong(0)
        val want = naiveTriangles(edges)
        assert(got == want, s"density $p%: got $got want $want")
      }
    }
  }

  test("bfs distances are frontier-order-independent across partitionings") {
    import spark.implicits._
    val und = (1L to 30L).map(i => (i, i % 30 + 1)) ++ Seq((1L, 15L), (7L, 22L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val seeds = Seq(1L, 20L).toDF("node")
    val a = Graph.bfs(edges.toDF("src", "dst").repartition(1), seeds, 6)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val b = Graph.bfs(edges.toDF("src", "dst").repartition(11), seeds, 6)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
  }

  /** Naive synchronous LPA: most frequent neighbor label, ties to the
    * smallest — the semantics labelPropagation's packed argmax encodes. */
  private def naiveLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = edges.map(_._1).distinct
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = nodes.map { n =>
        val counts = adj(n).map(labels).groupBy(identity).view.mapValues(_.size).toMap
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    labels
  }

  test("labelPropagation matches naive sync-LPA with min-label ties") {
    import spark.implicits._
    // two triangle communities bridged by one edge, plus a pendant
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L), (6L, 7L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    for (it <- Seq(1, 3, 4)) {
      val got = Graph.labelPropagation(edges.toDF("src", "dst"), it)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naiveLpa(edges, it), s"iters=$it")
    }
  }

  test("labelPropagation is partitioning-invariant") {
    import spark.implicits._
    val und = (1L to 24L).map(i => (i, i % 24 + 1)) ++ Seq((2L, 13L), (5L, 19L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val a = Graph.labelPropagation(edges.toDF("src", "dst").repartition(1), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.labelPropagation(edges.toDF("src", "dst").repartition(13), 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b && a.nonEmpty)
  }

  /** Naive peeling to the fixed point; returns surviving node → degree. */
  private def naiveKcore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var e = edges.distinct
    var changed = true
    while (changed) {
      val deg = e.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= k).keySet
      val e2 = e.filter { case (a, b) => keep(a) && keep(b) }
      changed = e2.size != e.size
      e = e2
    }
    e.groupBy(_._1).view.mapValues(_.size).toMap
  }

  test("kCore reaches the naive peeling fixed point (cascade included)") {
    import spark.implicits._
    // a 4-clique core, a chain hanging off it (peels over several
    // rounds, exercising the cascade), and an isolated triangle
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L), (6L, 7L), (8L, 9L), (9L, 10L), (8L, 10L))
    val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val got = Graph.kCore(edges.toDF("src", "dst"), 3, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got == naiveKcore(edges, 3))
    // k=2: the chain still peels, the triangle survives
    val got2 = Graph.kCore(edges.toDF("src", "dst"), 2, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    assert(got2 == naiveKcore(edges, 2))
  }

  /** Full Bellman–Ford relaxation, `rounds` rounds — what the oracle
    * unrolls; sssp's frontier restriction must reproduce it exactly. */
  private def naiveSssp(edges: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val cand = edges.flatMap { case (s, d, w) =>
        dist.get(s).map(ds => d -> (ds + w))
      }
      dist = (dist.toSeq ++ cand).groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    dist
  }

  test("sssp equals full Bellman-Ford; shortcut paths win; unreachable stay absent") {
    import spark.implicits._
    // direct 1→3 edge (weight 100) loses to the 1→2→3 path (11);
    // 5–6 is a disconnected component — never reached from 1
    val und = Seq((1L, 2L, 10L), (2L, 3L, 1L), (1L, 3L, 100L), (3L, 4L, 2L),
      (5L, 6L, 7L))
    val edges = und.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val got = Graph.sssp(edges.toDF("src", "dst", "w"),
        Seq(1L).toDF("node"), rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naiveSssp(edges, Seq(1L), 6))
    assert(got == Map(1L -> 0L, 2L -> 10L, 3L -> 11L, 4L -> 13L))
    // early exit must not truncate: a long chain still resolves within
    // the round budget, and extra rounds change nothing
    val chain = (1L to 5L).sliding(2).map { s => (s(0), s(1), 1L) }.toSeq
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    val g6 = Graph.sssp(chain.toDF("src", "dst", "w"), Seq(1L).toDF("node"), 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g6 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    // layout invariance: min is order-free
    val re = Graph.sssp(edges.toDF("src", "dst", "w").repartition(7),
        Seq(1L).toDF("node"), 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == got)
  }

  test("harmonicCentrality: hand-computed path graph, truncation, disconnection") {
    import spark.implicits._
    // path 1-2-3-4 plus isolated edge 8-9: undirected via both arcs
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L)).toDF("src", "dst")
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq(1L, 2L, 8L).toDF("node")
    def run(hops: Int) = Graph.harmonicCentrality(edges, seeds, hops)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // full radius: H(1) = 1/1 + 1/2 + 1/3 (ppm, floor div) — nodes 8,9
    // unreachable contribute nothing; H(2) = 1 + 1 + 1/2; H(8) = 1
    assert(run(3) == Map(
      1L -> (1000000L + 500000L + 333333L, 3L),
      2L -> (2000000L + 500000L, 3L),
      8L -> (1000000L, 1L)))
    // radius-1 truncation: only direct neighbors counted
    assert(run(1) == Map(
      1L -> (1000000L, 1L), 2L -> (2000000L, 2L), 8L -> (1000000L, 1L)))
  }

  test("a distributed-tier pageRank leaves the coalesce setting as it found it") {
    import spark.implicits._
    // the explicitly set value, None when unset (`getOption` would
    // report the built-in default either way)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    def explicit: Option[String] = spark.conf.getAll.get(key)
    val prev = explicit
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    try Graft.withConfs(spark, Tier.GraphEdges.key -> "0") {
      for (before <- Seq(None, Some("true"))) {
        before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        val (n, choices) = tierChoices("pageRank")(Graph.pageRank(edges, 3).count())
        assert(choices == Seq("distributed") && n == 3L)
        assert(explicit == before, s"was $before")
      }
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("under a zero budget, an empty edge set takes the distributed tier") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val (ranks, choices) = Graft.withConfs(spark, Tier.GraphEdges.key -> "0") {
      tierChoices("pageRank")(Graph.pageRank(empty, 3).collect())
    }
    assert(choices == Seq("distributed"))
    assert(ranks.isEmpty)
  }

  test("local iteration tier ≡ distributed rounds for every fixed-point operator") {
    import spark.implicits._
    // optimization-r12 contract: `spark.graft.graph.localEdges` moves
    // WHERE the rounds execute, never what they return. Randomized
    // directed graphs, every operator, full-row-set equality.
    val rnd = new scala.util.Random(0x60a1)
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    for (trial <- 0 until 3) {
      val n = 40
      val es = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val edges = es.toDF("src", "dst")
      val wEdges = es.map { case (a, b) => (a, b, (a + b) % 7 + 1) }.toDF("src", "dst", "w")
      val seeds = Seq(0L, 3L, 7L).toDF("node")
      def all(): Seq[Set[Seq[Any]]] = Seq(
        rows(Graph.pageRank(edges, 5)),
        rows(Graph.personalizedPageRank(edges, seeds, 5)),
        rows(Graph.bfs(edges, seeds, 4)),
        rows(Graph.multiSourceHops(edges, seeds, 4)),
        rows(Graph.sssp(wEdges, seeds, 4)),
        rows(Graph.labelPropagation(edges, 4)),
        rows(Graph.kCore(edges, 2, 4)))
      val local = all()
      spark.conf.set("spark.graft.graph.localEdges", "0")
      val dist = try all() finally spark.conf.unset("spark.graft.graph.localEdges")
      val names = Seq("pageRank", "ppr", "bfs", "multiSourceHops", "sssp",
        "labelPropagation", "kCore")
      names.indices.foreach { i =>
        assert(local(i) == dist(i),
          s"trial $trial: ${names(i)} local ≠ distributed " +
            s"(${(local(i) diff dist(i)).take(2)} vs ${(dist(i) diff local(i)).take(2)})")
        assert(local(i).nonEmpty, s"trial $trial: ${names(i)} empty")
      }
    }
  }
}
