package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Connected-components edge cases: chains (worst diameter for min-label
  * propagation), cycles, disjoint components, and the over-deletion
  * scenario clusters exist to fix.
  */
class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(edges: (Long, Long)*): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chain a-b-c collapses to one component under min id") {
    val got = cc((1L, 2L), (2L, 3L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("two disjoint components keep separate labels") {
    val got = cc((1L, 2L), (10L, 11L), (11L, 12L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("cycle and reversed edge direction do not matter") {
    val got = cc((3L, 2L), (2L, 1L), (1L, 3L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("long chain converges within the iteration budget") {
    // a 12-vertex path, edges listed high-to-low so labels must propagate
    // the full diameter
    val edges = (1L until 12L).map(i => (i + 1, i))
    val got = cc(edges: _*)
    assert(got.values.toSet === Set(1L))
    assert(got.size === 12)
  }

  test("self-loop is harmless") {
    val got = cc((5L, 5L), (5L, 6L))
    assert(got === Map(5L -> 5L, 6L -> 5L))
  }

  private def ccStar(maxIter: Int, edges: (Long, Long)*): Map[Long, Long] =
    Graph.connectedComponentsStar(edges.toDF("a", "b"), "a", "b", maxIter)
      .as[(Long, Long)].collect().toMap

  test("star variant matches label propagation on mixed graphs") {
    val cases = Seq(
      Seq((1L, 2L), (2L, 3L)),
      Seq((1L, 2L), (10L, 11L), (11L, 12L)),
      Seq((3L, 2L), (2L, 1L), (1L, 3L)),
      Seq((5L, 5L), (5L, 6L)),
      // star + chain + isolated self-loop, shuffled ids
      Seq((100L, 7L), (7L, 42L), (42L, 3L), (9L, 9L), (50L, 60L)))
    for (es <- cases)
      assert(ccStar(50, es: _*) === cc(es: _*), s"edges=$es")
  }

  test("star variant collapses a 200-hop chain in O(log n) rounds") {
    // label propagation would need 200 rounds (diameter); large/small-star
    // must finish inside 15 — the whole point of the variant
    val edges = (1L until 200L).map(i => (i + 1, i))
    val got = ccStar(15, edges: _*)
    assert(got.size === 200)
    assert(got.values.toSet === Set(1L))
  }

  private def prRef(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Map[Long, Long] = {
    // independent single-threaded integer fold of the same recurrence
    val out = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var rank = verts.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((u, vs) <- out; v <- vs) contrib(v) += rank(u) / vs.size
      rank = verts.map(v =>
        v -> (15L * scale / 100L + 85L * contrib(v) / 100L)).toMap
    }
    rank
  }

  test("integer pagerank matches an independent in-memory fold") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).distinct
    val got = Graph.pageRankInt(edges.toDF("a", "b"), "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === prRef(edges, 3))
    // hub 3 (degree 3) must outrank the pendant 5 (degree 1)
    assert(got(3L) > got(5L))
  }

  test("integer pagerank on a directed graph leaks dangling mass") {
    // 1→2 only: 2 has no out-edges, so round 1 gives r(1)=base,
    // r(2)=base+85% of 1's full mass — pinned exactly by the fold
    val edges = Seq((1L, 2L))
    val got = Graph.pageRankInt(edges.toDF("a", "b"), "a", "b", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(got === prRef(edges, 2))
    assert(got(2L) > got(1L))
  }

  test("label propagation: bridged cliques keep separate communities where CC merges") {
    // two 4-cliques joined by ONE bridge edge 4–5: connectivity is a single
    // component, but the dense neighborhoods out-vote the bridge
    def clique(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a != b
    } yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L), (5L, 4L))).toDF("a", "b")
    val lp = Graph.labelPropagation(edges, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(lp.filterKeys(_ <= 4L).values.toSet.size == 1)
    assert(lp.filterKeys(_ >= 5L).values.toSet.size == 1)
    assert(lp(1L) != lp(8L), s"bridge must not merge the cliques: $lp")
    val ccAll = cc((clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) ++
      Seq((4L, 5L), (5L, 4L))): _*)
    assert(ccAll.values.toSet.size == 1, "CC on the same graph is one component")
    // deterministic across partitionings
    val lp2 = Graph.labelPropagation(edges.repartition(7), "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(lp2 == lp)
  }

  test("label propagation: isolated star adopts the hub's label family deterministically") {
    // star 10–{11,12,13}: leaves adopt the hub's initial label in round 1
    // (hub is each leaf's only neighbor); hub adopts smallest leaf label,
    // then re-adopts the leaves' shared label in round 2 → all agree
    val edges = Seq((10L, 11L), (11L, 10L), (10L, 12L), (12L, 10L),
      (10L, 13L), (13L, 10L)).toDF("a", "b")
    val lp = Graph.labelPropagation(edges, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(lp.values.toSet.size == 1, s"star must converge to one community: $lp")
  }

  test("personalized pagerank: mass reaches only the seed's component; " +
    "disconnected vertices stay 0; equals an in-memory fold") {
    // path 1-2-3-4 (both directions) + disconnected pair 10-11; seed {1}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (10L, 11L), (11L, 10L)).toDF("a", "b")
    val seeds = Seq(Tuple1(1L)).toDF("s")
    val got = Graph.personalizedPageRankInt(edges, "a", "b", seeds, "s",
        iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got(10L) == 0L && got(11L) == 0L,
      "unreachable component must hold zero mass")
    // every vertex within 3 hops of the seed has received mass (note the
    // per-round amounts are NOT monotone in distance at small iteration
    // counts — the walk pushes mass outward as a wave)
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) > 0L), got.toString)
    // independent in-memory fold of the same integer recurrence
    val adj = Map(1L -> Seq(2L), 2L -> Seq(1L, 3L), 3L -> Seq(2L, 4L),
      4L -> Seq(3L), 10L -> Seq(11L), 11L -> Seq(10L))
    val vs = adj.keySet
    var r = vs.map(v => v -> (if (v == 1L) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map(
        vs.toSeq.map(_ -> 0L): _*)
      for ((u, ns) <- adj; n <- ns) contrib(n) += r(u) / ns.size
      r = vs.map(v => v ->
        ((if (v == 1L) 150000L else 0L) + 85L * contrib(v) / 100L)).toMap
    }
    assert(got == r, s"got $got want $r")
  }

  test("clustering coefficients hand-computed on square + chord + pendant") {
    // square 1-2-3-4 with chord 1-3 and pendant 4-5:
    // triangles (1,2,3), (1,3,4); degrees 1:3 2:2 3:3 4:3 5:1
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (1L, 3L), (4L, 5L))
      .toDF("a", "b")
    val got = Graph.clusteringCoefficients(e, "a", "b")
      .as[(Long, Long, Long, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(got(1L) == ((3L, 2L, 2.0 * 2 / 6)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((3L, 2L, 2.0 * 2 / 6)))
    assert(got(4L) == ((3L, 1L, 2.0 * 1 / 6)))
    assert(got(5L) == ((1L, 0L, 0.0)), "degree-1 vertex must score 0")
  }

  test("clustering coefficients: maxDeg cap nulls hub vertices and scores " +
    "the rest on the induced subgraph") {
    // triangle {1,2,3} + hub 100 adjacent to 1..12 (degree 12): with
    // maxDeg = 10 the hub is cut, the triangle survives intact, and
    // leaves 4..12 lose their only edge (degree 0 in the induced graph)
    val e = (Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++
      (1L to 12L).map(i => (i, 100L))).toDF("a", "b")
    val got = Graph.clusteringCoefficients(e, "a", "b", maxDeg = 10)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))).toMap
    // hub: FULL degree reported, n_tri/coeff null (marked, not wrong)
    assert(got(100L)._1 == 12L && got(100L)._2 == -1L && got(100L)._3.isNaN)
    // triangle corners: degree and triangles measured in the capped graph
    for (v <- Seq(1L, 2L, 3L))
      assert(got(v) == ((2L, 1L, 1.0)), s"vertex $v: ${got(v)}")
    // orphaned leaves: degree 0 in the induced graph, score 0
    for (v <- 4L to 12L) assert(got(v) == ((0L, 0L, 0.0)), s"leaf $v")
    // cap not binding ⇒ bit-identical to the uncapped computation
    val capped = Graph.clusteringCoefficients(e, "a", "b", maxDeg = 1000)
    val plain = Graph.clusteringCoefficients(e, "a", "b")
    assert(capped.exceptAll(plain).isEmpty && plain.exceptAll(capped).isEmpty)
  }

  test("adamic-adar scores hand-computed on a square + chord-center graph") {
    // square 1-2-3-4 with center 5 adjacent to 1 and 3:
    // degrees: 1→3, 2→2, 3→3, 4→2, 5→2
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 1L), (5L, 3L))
    val edges = (und ++ und.map(_.swap)).toDF("a", "b")
    val got = Graph.adamicAdar(edges, "a", "b")
      .as[(Long, Long, Long)].collect().toSet
    val w2 = math.round(1e6 / math.log(2)) // deg-2 neighbor: 1442695
    val w3 = math.round(1e6 / math.log(3)) // deg-3 neighbor: 910239
    // (1,3): common {2,4,5} all deg 2; (2,4)/(2,5)/(4,5): common {1,3} deg 3
    assert(got === Set(
      (1L, 3L, 3 * w2), (2L, 4L, 2 * w3), (2L, 5L, 2 * w3), (4L, 5L, 2 * w3)))
  }

  test("salted pagerank is bit-identical on a hub-source star graph") {
    // hub 0 has out-degree 400 — the exact shape that makes join key a=0
    // hot; with salting on, ranks must still match the unsalted run AND
    // the independent fold exactly (long sums are order-insensitive)
    val star = (1L to 400L).flatMap(i => Seq((0L, i), (i, 0L)))
    val df = star.toDF("a", "b")
    val salted = Graph.pageRankInt(df, "a", "b", iters = 3, saltBuckets = 8)
      .as[(Long, Long)].collect().toMap
    val plain = Graph.pageRankInt(df, "a", "b", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(salted === plain)
    assert(salted === prRef(star, 3))
    assert(salted(0L) > salted(1L))
  }

  test("salted personalized pagerank is bit-identical on a hub-source star") {
    // same hub shape as the pageRankInt salting spec, seeded at a leaf:
    // salted ≡ unsalted ≡ the in-memory integer fold
    val star = (1L to 400L).flatMap(i => Seq((0L, i), (i, 0L)))
    val df = star.toDF("a", "b")
    val seeds = Seq(Tuple1(7L)).toDF("s")
    val salted = Graph.personalizedPageRankInt(df, "a", "b", seeds, "s",
      iters = 3, saltBuckets = 8).as[(Long, Long)].collect().toMap
    val plain = Graph.personalizedPageRankInt(df, "a", "b", seeds, "s",
      iters = 3).as[(Long, Long)].collect().toMap
    assert(salted === plain)
    // independent fold of the seeded recurrence
    val adj = star.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val vs = adj.keySet
    var r = vs.map(v => v -> (if (v == 7L) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map(vs.toSeq.map(_ -> 0L): _*)
      for ((u, ns) <- adj; n <- ns) contrib(n) += r(u) / ns.size
      r = vs.map(v => v ->
        ((if (v == 7L) 150000L else 0L) + 85L * contrib(v) / 100L)).toMap
    }
    assert(salted === r)
  }

  test("star variant handles a random multi-component graph") {
    // deterministic pseudo-random graph: 3 planted components over 60
    // vertices, edges generated by a fixed LCG walk within each block
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val comps = Seq((0L, 20L), (20L, 40L), (40L, 60L))
    val edges = comps.flatMap { case (lo, hi) =>
      val n = hi - lo
      // spanning path keeps each block connected; extra random chords
      val path = (lo until hi - 1).map(i => (i + 1, i))
      val chords = lcg(lo + 7).take(30).grouped(2).collect {
        case Seq(x, y) => (lo + Math.floorMod(x, n), lo + Math.floorMod(y, n))
      }.toSeq
      path ++ chords
    }
    val got = ccStar(50, edges: _*)
    val want = cc(edges: _*)
    assert(got === want)
    assert(got.values.toSet === Set(0L, 20L, 40L))
  }

  /** Symmetrize an undirected edge list (the kCorePeel/labelPropagation
    * input contract).
    */
  private def sym(edges: (Long, Long)*) =
    edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct.toDF("a", "b")

  test("betweennessInt: chain dependencies accumulate through layers and " +
    "the diamond splits flow by exact path-count ratios") {
    def sym(ps: (Long, Long)*) =
      (ps ++ ps.map(_.swap)).toDF("a", "b")
    def seedsOf(ids: Long*) = ids.toDF("s")
    // path 1-2-3-4-5, seed 1, depth 3: δ(3)=10⁶, δ(2)=2·10⁶; 4 is the
    // deepest layer (δ 0, excluded), 5 unreached
    val path = Graph.betweennessInt(sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)),
        "a", "b", seedsOf(1L), "s", maxDepth = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(path == Set((2L, 1L, 2000000L), (3L, 1L, 1000000L)), path.toString)
    // diamond 1-2-4, 1-3-4: two shortest paths; each middle carries σ-ratio
    // 1/2 of the unit flow
    val diamond = sym((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val one = Graph.betweennessInt(diamond, "a", "b", seedsOf(1L), "s",
        maxDepth = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(one == Set((2L, 1L, 500000L), (3L, 1L, 500000L)), one.toString)
    // symmetric seeds double the split and the seed count
    val two = Graph.betweennessInt(diamond, "a", "b", seedsOf(1L, 4L), "s",
        maxDepth = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(two == Set((2L, 2L, 1000000L), (3L, 2L, 1000000L)), two.toString)
  }

  test("kTrussPeel: 4-truss keeps the K5, drops the bridge and the pendant " +
    "triangle; k=2 keeps even support-0 edges") {
    // K5 on 1..5 (each edge closes 3 triangles), bridge 5-6 (support 0),
    // pendant triangle 6-7-8 (each edge support 1); canonical a < b
    val k5 = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val edges = (k5 ++ Seq((5L, 6L), (6L, 7L), (6L, 8L), (7L, 8L)))
      .toDF("a", "b")
    val t4 = Graph.kTrussPeel(edges, "a", "b", k = 4, iters = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(t4 == k5.map { case (a, b) => (a, b, 3L) }.toSet, t4.toString)
    // k = 2 (support >= 0): nothing peels, including the triangle-free
    // bridge — the semi-join short-circuit under test
    assert(Graph.kTrussPeel(edges, "a", "b", k = 2, iters = 2).count() == 14)
    // k = 5 (support >= 3): K5 still stands; k = 6 empties the graph
    assert(Graph.kTrussPeel(edges, "a", "b", k = 5, iters = 2).count() == 10)
    assert(Graph.kTrussPeel(edges, "a", "b", k = 6, iters = 2).count() == 0)
  }

  test("kCorePeel: pendant chain peels, clique survives with full degrees") {
    // 4-clique {1,2,3,4} + pendant path 4-5-6: at k=2 the path peels from
    // the leaf inward (6 first, then 5), the clique is untouched
    val clique = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val e = sym(clique ++ Seq((4L, 5L), (5L, 6L)): _*)
    val got = Graph.kCorePeel(e, "a", "b", k = 2, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // at k=4 even the clique dies (max degree is 3)
    assert(Graph.kCorePeel(e, "a", "b", k = 4, iters = 3).isEmpty)
  }

  test("kCorePeel truncated at iters matches the synchronous driver fold") {
    // long pendant chain off a triangle: each round peels exactly one
    // chain vertex, so iters below the chain length leaves a remnant —
    // verify the truncated semantics against a driver-side replay
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    def replay(iters: Int): Map[Long, Long] = {
      var adj = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      for (_ <- 1 to iters) {
        val deg = adj.groupBy(_._1).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= 2).keySet
        adj = adj.filter { case (a, b) => keep(a) && keep(b) }
      }
      adj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    }
    for (iters <- Seq(1, 2, 4)) {
      val got = Graph.kCorePeel(sym(e: _*), "a", "b", k = 2, iters = iters)
        .as[(Long, Long)].collect().toMap
      assert(got === replay(iters), s"iters=$iters")
    }
  }

  test("bfsLayers: multi-seed min distances, depth budget leaves nulls") {
    val path = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    def run(seeds: Seq[Long], depth: Int) =
      Graph.bfsLayers(path, "a", "b", seeds.toDF("v"), "v", depth)
        .as[(Long, Option[Long])].collect().toMap
    assert(run(Seq(1L), 3) === Map(1L -> Some(0L), 2L -> Some(1L),
      3L -> Some(2L), 4L -> Some(3L), 5L -> None, 6L -> None))
    // two seeds: every vertex takes the NEARER one
    assert(run(Seq(1L, 6L), 3) === Map(1L -> Some(0L), 2L -> Some(1L),
      3L -> Some(2L), 4L -> Some(2L), 5L -> Some(1L), 6L -> Some(0L)))
  }

  test("multiSourceDistances: per-seed tagged waves, reached pairs only") {
    val path = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val got = Graph.multiSourceDistances(path, "a", "b",
        Seq(1L, 6L).toDF("v"), "v", maxDepth = 2)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // seed 1 and seed 6 each reach 2 hops; NO min-folding across seeds
    // (vertex 4 is dist 2 from 6 and unreached from 1)
    assert(got === Map((1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L,
      (6L, 6L) -> 0L, (6L, 5L) -> 1L, (6L, 4L) -> 2L))
    // a seed absent from the edge list still reports itself at dist 0
    val iso = Graph.multiSourceDistances(path, "a", "b",
        Seq(99L).toDF("v"), "v", maxDepth = 2)
      .as[(Long, Long, Long)].collect().toSeq
    assert(iso === Seq((99L, 99L, 0L)))
  }

  test("packed multi-source state crosses the 64-seed word boundary: " +
    "star with 70 leaf seeds") {
    // star: center 0, leaves 1..70, every leaf a seed — 70 seeds needs two
    // bitmap words / a 70-wide σ register, so word indexing and the
    // element-wise sum both cross the boundary
    val star = sym((1L to 70L).map(l => (0L, l)): _*)
    val seeds = (1L to 70L).toDF("v")
    val dists = Graph.multiSourceDistances(star, "a", "b", seeds, "v",
        maxDepth = 2)
      .as[(Long, Long, Long)].collect()
    // per seed: itself at 0, center at 1, the 69 other leaves at 2
    assert(dists.length === 70 * 71, dists.length.toString)
    assert(dists.count(_._3 == 0L) === 70)
    assert(dists.filter(_._3 == 1L).map(_._2).toSet === Set(0L))
    assert(dists.count(_._3 == 2L) === 70 * 69)
    assert(dists.filter(d => d._1 == 67L && d._3 == 2L).map(_._2).toSet ===
      ((1L to 70L).toSet - 67L))
    // betweenness: every 2-hop leaf→leaf path crosses the center, so per
    // seed δ(center) = 69·10⁶ (σ ratios all 1); leaves sit in layer 2
    // with δ = 0 but still count toward n_seeds
    val bc = Graph.betweennessInt(star, "a", "b", seeds, "v", maxDepth = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(bc(0L) === ((70L, 70L * 69L * 1000000L)), bc(0L).toString)
    (1L to 70L).foreach { l => assert(bc(l) === ((69L, 0L)), s"leaf $l") }
  }

  test("hyperAnf: register estimates are exact at tiny cardinalities and " +
    "match the per-h reached-pair counts") {
    // path 1-2-3-4-5, sources {1,5}: reached pairs per h —
    // h=0: 2 (selves), h=1: 4, h=2: 6, h=3: 8
    val path = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val got = Graph.hyperAnf(path, "a", "b", Seq(1L, 5L).toDF("v"), "v",
        maxDepth = 3, lgK = 12)
      .as[(Int, Long)].collect().toMap
    assert(got === Map(0 -> 2L, 1 -> 4L, 2 -> 6L, 3 -> 8L), got.toString)
    // all-sources mode: every vertex a source — N(1) = 2|E| + |V|
    val all = Graph.hyperAnf(path, "a", "b", (1L to 5L).toDF("v"), "v",
        maxDepth = 1, lgK = 12)
      .as[(Int, Long)].collect().toMap
    assert(all === Map(0 -> 5L, 1 -> 13L), all.toString)
  }

  test("labelSpread equals the in-memory per-class fold; ties to the " +
    "smaller class") {
    // two triangles bridged at 3-4; seeds: vertex 1 class 0, vertex 6
    // class 1
    val g = sym((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val seeds = Seq((1L, 0L), (6L, 1L)).toDF("v", "cls")
    val got = Graph.labelSpread(g, "a", "b", seeds, "v", "cls", iters = 3)
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // in-memory replay of the documented recurrence
    val adj = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val seedOf = Map(1L -> 0L, 6L -> 1L)
    var m = seedOf.map { case (v, l) => (v, l) -> 1000000L }
    for (_ <- 1 to 3) {
      val contrib = scala.collection.mutable.Map
        .empty[(Long, Long), Long].withDefaultValue(0L)
      for (((u, l), mass) <- m; n <- adj(u))
        contrib((n, l)) += mass / adj(u).size
      val next = scala.collection.mutable.Map
        .empty[(Long, Long), Long].withDefaultValue(0L)
      for (((v, l), s) <- contrib) next((v, l)) += 85L * s / 100L
      for ((v, l) <- seedOf) next((v, l)) += 150000L
      m = next.toMap
    }
    val want = m.groupBy(_._1._1).map { case (v, ms) =>
      val (bl, bm) = ms.map { case ((_, l), mass) => (l, mass) }
        .toSeq.sortBy { case (l, mass) => (-mass, l) }.head
      v -> ((Some(bl), Some(bm)))
    }
    for ((v, want2) <- want) assert(got(v) === want2, s"vertex $v")
    // cluster membership follows the nearer seed
    assert(got(2L)._1 === Some(0L) && got(5L)._1 === Some(1L))
  }

  test("modularityTerms hand-computed on two cliques joined by a bridge") {
    val k4a = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val k4b = for (a <- 5L to 8L; b <- 5L to 8L if a < b) yield (a, b)
    val e = sym((k4a ++ k4b :+ ((4L, 5L))): _*)
    val lab = (1L to 8L).map(v => (v, if (v <= 4) 1L else 2L))
      .toDF("vertex", "community")
    // E2 = 26; each clique: intra2 = 12, deg_c = 13 (bridge endpoint +1)
    // term = 12/26 − (13/26)² = 0.21153846…
    val got = Graph.modularityTerms(e, "a", "b", lab, "vertex", "community")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === Seq((1L, 12L, 13L, 21153846L),
      (2L, 12L, 13L, 21153846L)))
  }

  test("deterministicWalks replays the LCG hop-for-hop; edges only; " +
    "partitioning-invariant") {
    val edges = sym((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
    val starts = Seq(1L, 3L, 99L).toDF("v") // 99 absent: step-0 row only
    def run(parts: Int) = Graph.deterministicWalks(
        edges.repartition(parts), "a", "b", starts, "v",
        steps = 3, walksPerVertex = 2)
      .as[(Long, Int, Int, Long)].collect().toSet
    val got = run(1)
    assert(got === run(5))
    // driver replay of the exact recurrence
    val adj = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val want = scala.collection.mutable.Set.empty[(Long, Int, Int, Long)]
    for (s <- Seq(1L, 3L, 99L); w <- 0 to 1) {
      want += ((s, w, 0, s))
      var v = s
      var k = 1
      var alive = adj.contains(v)
      while (alive && k <= 3) {
        val ns = adj(v)
        val h = v * 1103515245L + w * 12345L + k * 2747636419L + 12345L
        v = ns((h % ns.size).toInt)
        want += ((s, w, k, v))
        alive = adj.contains(v)
        k += 1
      }
    }
    assert(got === want.toSet)
    // every consecutive hop is a real edge
    val byWalk = got.toSeq.groupBy(t => (t._1, t._2))
    val edgeSet = adj.toSeq.flatMap { case (a, bs) => bs.map(b => (a, b)) }.toSet
    for ((_, steps) <- byWalk) {
      val path = steps.sortBy(_._3).map(_._4)
      path.sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet((a, b)))
        case _ =>
      }
    }
  }

  test("hitsInt: max-normalized integer recurrence, hand-computed") {
    // bipartite: hub 1 endorses parts 10,11,12; hub 2 endorses only 10.
    // Hand-unrolled three rounds of aₖ/hₖ with truncating integer div.
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("u", "v")
    val got = Graph.hitsInt(e, "u", "v", iters = 3)
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((Some(1000000L), None)))
    assert(got(2L) === ((Some(416666L), None)))
    assert(got(10L) === ((None, Some(1000000L))))
    assert(got(11L) === ((None, Some(700000L))))
    assert(got(12L) === ((None, Some(700000L))))
  }

  // sequential Kruskal under the same (w, u, v) total order — the
  // independent reference for boruvkaMst
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val sorted = edges
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .sortBy { case (u, v, w) => (w, u, v) }
    sorted.collect { case (u, v, w) if find(u) != find(v) =>
      parent(find(u)) = find(v); (u, v, w)
    }.toSet
  }

  test("boruvkaMst matches sequential Kruskal on a weighted fixture with " +
      "ties, long chains, and a disconnected component") {
    // chain with increasing weights (deep selected-edge trees), a cycle
    // with a tie, and an isolated 2-vertex component
    val edges = Seq(
      (1L, 2L, 5L), (2L, 3L, 6L), (3L, 4L, 7L), (4L, 5L, 8L), (5L, 6L, 9L),
      (1L, 6L, 9L),                       // tie with (5,6) — order breaks it
      (2L, 5L, 20L), (3L, 6L, 1L),        // shortcut edges
      (100L, 101L, 3L))                   // separate forest component
    val got = Graph.boruvkaMst(edges.toDF("a", "b", "w"), "a", "b", "w")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === kruskal(edges))
    assert(got.size == 6) // 6 vertices -> 5 edges, + 1 in the second tree
  }

  test("boruvkaMst on a pseudo-random dense graph equals Kruskal and is " +
      "partitioning-invariant") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val raw = lcg(7L).take(900).grouped(3).collect {
      case Seq(x, y, w) =>
        (Math.floorMod(x, 40L), Math.floorMod(y, 40L), Math.floorMod(w, 50L))
    }.toSeq.filter { case (a, b, _) => a != b }
    // parallel edges keep the min weight — mirror the operator's dedupe law
    val dedup = raw.groupBy { case (a, b, _) =>
        (math.min(a, b), math.max(a, b)) }
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }.toSeq
    val df = raw.toDF("a", "b", "w")
    val got = Graph.boruvkaMst(df, "a", "b", "w")
      .as[(Long, Long, Long)].collect().toSet
    val got7 = Graph.boruvkaMst(df.repartition(7), "a", "b", "w")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === kruskal(dedup))
    assert(got === got7)
  }

  // sequential Tarjan SCC, components labeled by their min vertex — the
  // independent reference for stronglyConnectedComponents
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => (k, v.map(_._2)) }
    val verts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val idx = scala.collection.mutable.Map[Long, Int]()
    val low = scala.collection.mutable.Map[Long, Int]()
    val onStack = scala.collection.mutable.Set[Long]()
    val stack = scala.collection.mutable.Stack[Long]()
    val comp = scala.collection.mutable.Map[Long, Long]()
    var counter = 0
    def strongconnect(v: Long): Unit = {
      idx(v) = counter; low(v) = counter; counter += 1
      stack.push(v); onStack += v
      for (w <- adj.getOrElse(v, Seq.empty)) {
        if (!idx.contains(w)) { strongconnect(w); low(v) = low(v) min low(w) }
        else if (onStack(w)) low(v) = low(v) min idx(w)
      }
      if (low(v) == idx(v)) {
        val members = scala.collection.mutable.Buffer[Long]()
        var w = -1L
        do { w = stack.pop(); onStack -= w; members += w } while (w != v)
        val label = members.min
        members.foreach(m => comp(m) = label)
      }
    }
    verts.foreach(v => if (!idx.contains(v)) strongconnect(v))
    comp.toMap
  }

  test("stronglyConnectedComponents matches Tarjan on cycles, bridges, " +
      "chains, and a pseudo-random digraph; partitioning-invariant") {
    // two 3-cycles joined by a one-way bridge, a tail chain, and the
    // adversarial decreasing-id chain (one color per round — the slow
    // condensation case, resolved within the default outer budget)
    val fixture = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 20L), (20L, 21L),
      (35L, 34L), (34L, 33L), (33L, 32L), (32L, 31L))
    val got = Graph.stronglyConnectedComponents(
      fixture.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === tarjan(fixture), got.toString)
    // edges from two bit ranges of the SAME draw: the consecutive-draw
    // pairing is a parity trap (the LCG alternates parity, making every
    // edge odd->even — a bipartite DAG, no cycles at all)
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val rand = lcg(13L).take(200).map(x =>
      (Math.floorMod(x, 30L), Math.floorMod(x >> 17, 30L)))
      .toSeq.filter { case (a, b) => a != b }
    val df = rand.toDF("a", "b")
    val g1 = Graph.stronglyConnectedComponents(df, "a", "b")
      .as[(Long, Long)].collect().toMap
    val g2 = Graph.stronglyConnectedComponents(df.repartition(7), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(g1 === tarjan(rand))
    assert(g1 === g2)
  }

  test("lubyMis: independent, maximal, deterministic, and dominated " +
      "vertices report round 0") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val pairs = lcg(3L).take(600).grouped(2).collect {
      case Seq(x, y) => (Math.floorMod(x, 50L), Math.floorMod(y, 50L))
    }.toSeq.filter { case (a, b) => a != b }
    val und = (pairs ++ pairs.map(_.swap)).distinct
    val got = Graph.lubyMis(und.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val mis = got.filter(_._2 > 0).keySet
    val adj = und.groupBy(_._1).map { case (k, v) => (k, v.map(_._2).toSet) }
    // independence: no edge has both endpoints in the MIS
    assert(und.forall { case (a, b) => !(mis(a) && mis(b)) })
    // maximality: every dominated vertex has a MIS neighbor
    assert(got.collect { case (v, 0L) => v }
      .forall(v => adj(v).exists(mis)))
    // determinism across partitionings
    val got7 = Graph.lubyMis(und.toDF("a", "b").repartition(5), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got === got7)
  }

  test("scc: exhausted propagation budget yields -1, never a split SCC") {
    // a 6-cycle needs ~5 min-propagation rounds; propRounds=2 exhausts
    // mid-flight — the old behavior assigned ids from the stale label
    // table, splitting the one true SCC across several ids
    val cyc = (0L to 5L).map(i => (i, (i + 1) % 6)).toDF("a", "b")
    val got = Graph.stronglyConnectedComponents(cyc, "a", "b",
        outerRounds = 4, propRounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(-1L), got.toString)
    // ample budget: the same graph is one SCC labeled by its min vertex
    val full = Graph.stronglyConnectedComponents(cyc, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(full.values.toSet === Set(0L), full.toString)
  }

  test("lubyMis: exhausted round budget yields -1 (undecided), not 0") {
    val und = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("a", "b")
    val got = Graph.lubyMis(und, "a", "b", maxRounds = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet === Set(-1L), got.toString)
    val full = Graph.lubyMis(und, "a", "b").as[(Long, Long)].collect().toMap
    // path 1-2-3: priorities decide; whatever wins, 0 means dominated
    // WITH a MIS neighbor — the maximality law of the main spec
    assert(!full.values.toSet.contains(-1L))
  }

  test("boruvkaMst: chain-of-blobs sparse graph equals Kruskal (exercises " +
    "multi-jump pointer doubling)") {
    // 40 triangles strung on a path: round 1 contracts each triangle and
    // hooks neighbors into chains long enough to need several doublings
    val tri = (0L until 40L).flatMap { i =>
      val b = i * 3
      Seq((b, b + 1, 5L + i), (b + 1, b + 2, 6L + i), (b, b + 2, 7L + i))
    }
    val path = (0L until 39L).map(i => (i * 3 + 2, (i + 1) * 3, 100L + i))
    val edges = (tri ++ path).toDF("a", "b", "w")
    val got = Graph.boruvkaMst(edges, "a", "b", "w")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === kruskal(tri ++ path), got.size.toString)
  }

  test("hitsInt is partitioning-invariant (integer ops only)") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val edges = lcg(11L).take(400).grouped(2).collect {
      case Seq(x, y) => (Math.floorMod(x, 30L), 100L + Math.floorMod(y, 40L))
    }.toSeq
    val base = edges.toDF("u", "v")
    val a = Graph.hitsInt(base, "u", "v", iters = 3)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    val b = Graph.hitsInt(base.repartition(7), "u", "v", iters = 3)
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    assert(a === b && a.nonEmpty)
  }

  // Spark jobs launched by one operator call plus the collect of its
  // result, counted by a listener (the IoSpec job-count pattern). Pinned
  // so a change to the round loops cannot add jobs unnoticed; a change
  // that removes jobs lowers the pin in the same commit. Adaptive
  // execution makes some counts vary by a job or two between runs of the
  // same code (boruvkaMst 57-61, scc 207-208), so each pin is the largest
  // count seen over repeated runs.
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftx.ListenerHook.drain(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graftx.ListenerHook.drain(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  test("round-based operators launch no more Spark jobs than pinned") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val chain = (1L until 200L).map(i => (i + 1, i)).toDF("a", "b")
    val sccFixture = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 20L), (20L, 21L),
      (35L, 34L), (34L, 33L), (33L, 32L), (32L, 31L)).toDF("a", "b")
    val misPairs = lcg(3L).take(600).grouped(2).collect {
      case Seq(x, y) => (Math.floorMod(x, 50L), Math.floorMod(y, 50L))
    }.toSeq.filter { case (a, b) => a != b }
    val misEdges = (misPairs ++ misPairs.map(_.swap)).distinct.toDF("a", "b")
    val mstEdges = Seq(
      (1L, 2L, 5L), (2L, 3L, 6L), (3L, 4L, 7L), (4L, 5L, 8L), (5L, 6L, 9L),
      (1L, 6L, 9L), (2L, 5L, 20L), (3L, 6L, 1L), (100L, 101L, 3L))
      .toDF("a", "b", "w")
    val path = sym((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    val counts = Map(
      "connectedComponentsStar" -> jobsOf(
        Graph.connectedComponentsStar(chain, "a", "b", 15).collect()),
      "stronglyConnectedComponents" -> jobsOf(
        Graph.stronglyConnectedComponents(sccFixture, "a", "b").collect()),
      "lubyMis" -> jobsOf(Graph.lubyMis(misEdges, "a", "b").collect()),
      "boruvkaMst" -> jobsOf(
        Graph.boruvkaMst(mstEdges, "a", "b", "w").collect()),
      "hyperAnf" -> jobsOf(Graph.hyperAnf(path, "a", "b",
        Seq(1L, 6L).toDF("v"), "v", maxDepth = 3, lgK = 12).collect()),
      "bfsLayers" -> jobsOf(Graph.bfsLayers(path, "a", "b",
        Seq(1L).toDF("v"), "v", 3).collect()))
    val pinned = Map(
      "connectedComponentsStar" -> 88,
      "stronglyConnectedComponents" -> 208,
      "lubyMis" -> 41,
      "boruvkaMst" -> 61,
      "hyperAnf" -> 15,
      "bfsLayers" -> 15)
    for ((op, n) <- counts)
      assert(n <= pinned(op), s"$op launched $n jobs, pinned ${pinned(op)} " +
        s"(all counts: $counts)")
  }
}
