package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.CheckpointUtils.unpersistLocalCheckpoint
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Iterative graph operators for the dedup pipeline. The one that matters
  * at 100 TB: connected components over the near-duplicate pair graph, to
  * collapse each duplicate CLUSTER to one canonical document (pairs alone
  * over-delete: a–b and b–c pairs must keep exactly one of {a,b,c}, not
  * lose two).
  */
object Graph {

  /** Connected components of an undirected edge list via iterative
    * min-label propagation: every vertex starts labeled with itself; each
    * round every vertex takes the min of its own and its neighbors' labels;
    * fixpoint = each vertex labeled with its component's smallest id.
    *
    * Output: (`vertex`, `component`) for every vertex appearing in `edges`
    * — `component` is the component's minimum vertex id.
    *
    * Scale posture: each round is one shuffled (edge ⋈ label) equi-join
    * plus a groupBy-min — all narrow (two longs per row); rounds run
    * through [[Rounds.iterate]]. Convergence rides the same aggregation
    * that computes the new labels (each vertex's own row is flagged, so
    * the group sees both min-candidate and previous label) — the
    * changed-count is then a filter over the already-materialized round,
    * NOT a second label-join per round. Rounds needed = component
    * diameter; near-dup clusters are shallow (a hub document links its
    * variants), so a handful of rounds suffices. For adversarially long
    * chains, switch to [[connectedComponentsStar]] (alternating
    * large/small-star, Kiveris et al., "Connected Components in MapReduce
    * and Beyond"), which converges in O(log² n) rounds — not needed for
    * dedup graphs.
    *
    * If `maxIter` rounds pass without convergence the loop STOPS and the
    * returned labels are only partially propagated (components wider than
    * `maxIter` hops split) — a warning is logged; size `maxIter` to the
    * expected component diameter.
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 20): DataFrame = {
    // both directions once, deduplicated — neighbors(v) for every v
    val und = edges.select(col(src).as("a"), col(dst).as("b"))
      .unionByName(edges.select(col(dst).as("a"), col(src).as("b")))
      .distinct()
      .localCheckpoint()
    // own rows are flagged so one aggregation yields BOTH the new min
    // label and the previous one — convergence needs no second join.
    // (Measured: an observe() signature riding the materialization is
    // SLOWER here than this count — the post-checkpoint count scans an
    // in-memory local RDD in ~30 ms, while Observation.get waits on the
    // async listener bus per round.)
    val res = Rounds.iterate(
        und.select(col("a").as("v")).distinct().withColumn("label", col("v")),
        maxIter, stop = r => r.index > 0 &&
          r.frame.filter(col("label") =!= col("__old")).count() == 0) { r =>
      val labels = r.frame.select(col("v"), col("label"))
      // neighbor labels flow along edges: b's label becomes a candidate for a
      val viaNeighbor = und
        .join(labels.withColumnRenamed("v", "b"), Seq("b"))
        .select(col("a").as("v"), col("label"))
      labels.withColumn("__own", lit(true))
        .unionByName(viaNeighbor.withColumn("__own", lit(false)))
        .groupBy(col("v"))
        .agg(min(col("label")).as("label"),
          max(when(col("__own"), col("label"))).as("__old"))
    }
    if (!res.converged)
      System.err.println(s"[graft] connectedComponents: NOT converged after " +
        s"$maxIter rounds — components wider than $maxIter hops are split; " +
        "raise maxIter or use connectedComponentsStar")
    res.frame.select(col("v").as("vertex"), col("label").as("component"))
  }

  /** PageRank in fixed-point INTEGER arithmetic — every rank is a BIGINT in
    * units of `1/scale`, every operation is integer multiply / truncating
    * divide / sum, so the result is bit-identical across engines, partition
    * counts, and executor placements (no floating-point sum-order
    * sensitivity — the property that lets a DuckDB oracle hash-match a
    * 1000-executor Spark run exactly). The recurrence is the standard
    * damped walk with per-node teleport mass (total mass N·scale):
    *
    *   r₀(v)    = scale
    *   rₖ₊₁(v) = (15·scale) div 100 + (85 · Σ_{(u,v)∈E} (rₖ(u) div deg(u))) div 100
    *
    * `edges` must be DISTINCT directed pairs (pass both directions for an
    * undirected graph — then every vertex has out-degree ≥ 1 and no
    * dangling-mass correction is needed; dangling vertices in a directed
    * graph simply leak their mass, the usual simplified formulation).
    * Runs exactly `iters` rounds — an unrolled fixed computation, not a
    * convergence loop, so an oracle can mirror it term by term.
    *
    * Scale posture: each round is ONE shuffled equi-join of the (long,long)
    * edge list against the (long,long) rank table plus a map-side-combinable
    * groupBy-sum — narrow rows throughout, web-graph shaped. Edges and
    * degrees are checkpointed once and reused every round; rounds are plan
    * compositions over those cached inputs (depth = `iters`, small by
    * construction). Overflow: ranks are bounded by total mass N·scale, so
    * 85·rank must fit a signed 64-bit long — N·scale < 10¹⁷, e.g. a billion
    * vertices at the default micro-rank scale. Lower `scale` for larger
    * graphs.
    *
    * Output: (`vertex`, `rank`) — `rank` in `1/scale` units.
    */
  def pageRankInt(edges: DataFrame, src: String, dst: String,
      iters: Int = 3, scale: Long = 1000000L, saltBuckets: Int = 1): DataFrame = {
    require(iters >= 1, "pageRankInt needs at least one round")
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val verts = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .distinct()
      .localCheckpoint()
    val base = (15L * scale) / 100L
    var r = verts.withColumn("r", lit(scale))
    for (_ <- 1 to iters) {
      // per-source (rank, degree) row — narrow, one row per vertex, so
      // this join is skew-free; the edge join below is where a hub SOURCE
      // (one `a` with millions of out-edges) lands on a single reducer.
      // saltBuckets > 1 spreads it with the deterministic Skew scheme
      // (edge side salted, per-vertex side replicated buckets×); the
      // groupBy(b) sum needs nothing — its map-side partial aggregation
      // already collapses a hub DESTINATION to ≤ partitions rows, and long
      // sums are order-insensitive, so ranks are bit-identical either way.
      val rd = deg.join(r.withColumnRenamed("v", "a"), Seq("a"))
      val joined =
        if (saltBuckets == 1) e.join(rd, Seq("a"))
        else graft.ops.Skew.saltedInnerJoin(e, rd, Seq("a"), saltBuckets)
      val contrib = joined
        .groupBy(col("b").as("v"))
        .agg(sum(expr("r div d")).as("s"))
      r = verts.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (lit(base) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    r.select(col("v").as("vertex"), col("r").as("rank"))
  }

  /** PERSONALIZED PageRank: teleport mass returns only to the `seeds` set
    * — the related-items / recommendations shape (rank every vertex by
    * proximity to a query set under the damped walk):
    *
    *   r₀(v)   = scale·[v ∈ S]
    *   rₖ₊₁(v) = (15·scale·[v ∈ S]) div 100
    *              + (85 · Σ_{(u,v)∈E} (rₖ(u) div deg(u))) div 100
    *
    * Same integer fixed-point arithmetic, per-round shape, overflow bound,
    * salted-hub-join option, and oracle-unrollability as [[pageRankInt]];
    * the only change is the seed indicator riding the vertex frame (one
    * broadcast-friendly left-semi flag, checkpointed with it). Vertices
    * unreachable from the seeds stay at rank 0 — the property that makes
    * PPR a proximity measure rather than a global centrality.
    *
    * Output: (`vertex`, `rank`) in `1/scale` units.
    */
  def personalizedPageRankInt(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedCol: String, iters: Int = 3,
      scale: Long = 1000000L, saltBuckets: Int = 1): DataFrame = {
    require(iters >= 1, "personalizedPageRankInt needs at least one round")
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val sd = seeds.select(col(seedCol).cast("long").as("v")).distinct()
    val verts = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .distinct()
      .join(sd.withColumn("__seed", lit(1L)), Seq("v"), "left")
      .select(col("v"), coalesce(col("__seed"), lit(0L)).as("__seed"))
      .localCheckpoint()
    val base = (15L * scale) / 100L
    var r = verts.withColumn("r", col("__seed") * scale)
      .select(col("v"), col("r"))
    for (_ <- 1 to iters) {
      // same hub-source mitigation as pageRankInt: the edge side salts,
      // the one-row-per-vertex (rank, degree) side replicates buckets×;
      // long sums are order-insensitive, so ranks are bit-identical
      val rd = deg.join(r.withColumnRenamed("v", "a"), Seq("a"))
      val joined =
        if (saltBuckets == 1) e.join(rd, Seq("a"))
        else graft.ops.Skew.saltedInnerJoin(e, rd, Seq("a"), saltBuckets)
      val contrib = joined
        .groupBy(col("b").as("v"))
        .agg(sum(expr("r div d")).as("s"))
      r = verts.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (col("__seed") * base + expr("(85 * coalesce(s, 0L)) div 100"))
            .as("r"))
    }
    r.select(col("v").as("vertex"), col("r").as("rank"))
  }

  /** Synchronous label-propagation community detection (Raghavan, Albert,
    * Kumara 2007) made DETERMINISTIC: every vertex starts labeled with
    * itself; each round every vertex simultaneously adopts the most common
    * label among its in-neighbors, ties broken to the SMALLEST label (the
    * paper's random tie-break is replaced, so results are identical on any
    * partitioning and any cluster size — and the oracle can unroll the
    * exact recurrence as SQL CTEs). Unlike [[connectedComponents]] (which
    * finds connectivity classes) this finds DENSELY-connected communities:
    * a bridge edge between two cliques does not merge their labels.
    *
    * Fixed `iters` rounds. Per round: one narrow (long, long) edge⋈labels
    * equi-join, then count per (vertex, label) and an argmax per vertex —
    * both map-side-combinable aggregations (the argmax is a `max` of a
    * (count, −label) struct, no window). Every vertex also votes for its
    * OWN current label (self-loop augmentation) — the standard damping
    * that removes the two-coloring oscillation synchronous LPA exhibits on
    * bipartite structures (a star graph would otherwise flip hub/leaf
    * labels forever) and covers isolated vertices. Rounds COMPOSE as plans
    * over the two checkpointed inputs (edges, vertices) — at the small
    * fixed round counts communities need, composition measured 1.8× faster
    * than materializing labels per round (6.9 → 3.9 s at sf0.1); for deep
    * iteration switch to periodic checkpoints as [[connectedComponents]]
    * does. Pass a symmetric, DISTINCT, irreflexive edge
    * set for undirected semantics (each undirected edge present in both
    * directions, no self-loops — the op adds exactly one self-vote per
    * vertex itself).
    *
    * Output: (`vertex`, `community`).
    */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one round")
    val e0 = edges.select(col(src).cast("long").as("a"),
      col(dst).cast("long").as("b"))
    val verts = e0.select(col("a").as("v"))
      .unionByName(e0.select(col("b").as("v")))
      .distinct()
      .localCheckpoint()
    // self-vote edges ride the same join
    val e = e0
      .unionByName(verts.select(col("v").as("a"), col("v").as("b")))
      .localCheckpoint()
    var lab = verts.withColumn("lab", col("v"))
    for (_ <- 1 to iters) {
      val votes = e.join(lab.withColumnRenamed("v", "a"), Seq("a"))
        .groupBy(col("b").as("v"), col("lab"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) without a window: max over the
      // (c, -lab) struct, then negate back
      val winner = votes
        .groupBy(col("v"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("w"))
        .select(col("v"), (-col("w.nl")).as("next"))
      lab = verts.join(winner, Seq("v"), "left")
        .select(col("v"), coalesce(col("next"), col("v")).as("lab"))
    }
    lab.select(col("v").as("vertex"), col("lab").as("community"))
  }

  /** Per-vertex local clustering coefficient C(v) = 2·T(v)/(d(v)·(d(v)−1))
    * — the how-clique-like-is-my-neighborhood score (community quality,
    * spam-graph screens). Input contract: CANONICAL undirected edges
    * (src < dst, distinct, no self-loops).
    *
    * Scale shape: triangles enumerate once each on the canonical order
    * (wedge a<m<c equi-join + closing-edge join — the [[Graph]] triangle
    * pattern), then explode to their 3 corners for the per-vertex count —
    * ×3 amplification of the sparse TRIANGLE set only, never of the edge
    * set. Degrees are one map-side-combinable count over the symmetric
    * view.
    *
    * `maxDeg` is the in-op hub cap (parity with [[adamicAdar]]): the wedge
    * self-join is quadratic in the center's degree, so a single 10⁶-degree
    * hub would put 10¹² wedge rows on the plan. Vertices with degree >
    * `maxDeg` are removed from the graph and the coefficient is computed
    * on the INDUCED subgraph of the remaining vertices — a well-defined
    * semantics (both the reported degree and the triangles are measured in
    * the same capped graph, so 0 ≤ coeff ≤ 1 always holds). Capped hub
    * vertices are still emitted, carrying their FULL degree with `n_tri`
    * and `coeff` null — callers see exactly which vertices were cut rather
    * than silently wrong scores. When no vertex exceeds the cap the output
    * is identical to the uncapped computation.
    *
    * Output: (`vertex`, `deg`, `n_tri`, `coeff`); degree-0/1 vertices
    * score 0.0; degree-over-cap vertices score null.
    */
  def clusteringCoefficients(edges: DataFrame, src: String,
      dst: String, maxDeg: Int = 1000): DataFrame = {
    val e = edges.select(col(src).as("a"), col(dst).as("b")).localCheckpoint()
    // full-graph degrees: the vertex universe + the hub screen (staged —
    // read by the hub anti-joins and the final output join)
    val degFull = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val hubs = degFull.filter(col("deg") > maxDeg).select(col("v"))
    val eCap = e
      .join(hubs.select(col("v").as("a")), Seq("a"), "left_anti")
      .join(hubs.select(col("v").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
      .localCheckpoint() // reused: capped degrees + three triangle scans
    val degCap = eCap.select(col("a").as("v"))
      .unionByName(eCap.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degc"))
    val tri = eCap.as("e1")
      .join(eCap.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("a"), col("e1.b").as("m"), col("e2.b").as("c"))
      .join(eCap.select(col("a"), col("b").as("c")), Seq("a", "c"))
    val triPerV = tri
      .select(explode(array(col("a"), col("m"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    val isHub = col("deg") > maxDeg
    degFull
      .join(degCap, Seq("v"), "left")
      .join(triPerV, Seq("v"), "left")
      .select(col("v").as("vertex"),
        when(isHub, col("deg"))
          .otherwise(coalesce(col("degc"), lit(0L))).as("deg"),
        when(isHub, lit(null).cast("long"))
          .otherwise(coalesce(col("n_tri"), lit(0L))).as("n_tri"),
        when(isHub, lit(null).cast("double"))
          .otherwise(when(coalesce(col("degc"), lit(0L)) >= 2,
            lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
              (col("degc") * (col("degc") - 1)).cast("double"))
            .otherwise(lit(0.0))).as("coeff"))
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — converges in O(log² n) rounds regardless of component
    * DIAMETER, where [[connectedComponents]]' label propagation needs
    * diameter rounds (a 10⁶-hop chain would need 10⁶ rounds there; ~20
    * here). Output contract is identical: (`vertex`, `component`) with
    * `component` = the component's minimum vertex id.
    *
    *  - Large-star (per vertex u): attach every neighbor LARGER than u to
    *    m = min(Γ(u) ∪ {u}) — emitted edge set {(v, m) : v ∈ Γ(u), v > u}.
    *  - Small-star (per vertex u, edges oriented big→small so Γ(u) ≤ u):
    *    attach u and all its smaller neighbors to m = min(Γ(u) ∪ {u}).
    *
    * Both steps preserve connectivity and never raise a vertex's minimum
    * reachable id; the fixpoint is a set of stars whose centers are the
    * component minima. Each round is two narrow (long, long) shuffles —
    * a groupBy-min plus an equi-join back — the same per-round shape as
    * label propagation, so the O(log² n) round bound is the whole win.
    * Convergence is detected by an (edge-count, xxhash64-xor) checksum of
    * the canonicalized edge set, the [[Rounds.iterate]] signature of each
    * round — star steps are idempotent on their fixpoint, so a stable
    * checksum IS the fixpoint (the hash guards against a same-size edge
    * rewrite).
    */
  def connectedComponentsStar(edges: DataFrame, src: String, dst: String,
      maxIter: Int = 50): DataFrame = {
    val vertices = edges.select(col(src).as("v"))
      .unionByName(edges.select(col(dst).as("v")))
      .distinct()
      .localCheckpoint()
    // canonical orientation a > b; self-loops drop out (rejoined at the end)
    val canon = edges.select(col(src).as("x"), col(dst).as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("a"),
        least(col("x"), col("y")).as("b"))
      .distinct()
    // XOR of per-edge hashes: order-independent, no ANSI sum overflow, and
    // sound as a set fingerprint because the edge set is distinct
    val res = Rounds.iterate(canon, maxIter, signature = Seq(count(lit(1)),
        call_function("bit_xor", xxhash64(col("a"), col("b"))))) { r =>
      val e = r.frame
      // LARGE-STAR. Neighborhoods need both directions; m(u) = least(u, min Γ(u)).
      val nbrs = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v"))) // distinct by construction (a>b)
      val mins = nbrs.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // (v, m) for v > u: v > u ≥ m, so orientation a > b is preserved
      val large = r.scratch(nbrs.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
        .localCheckpoint())
      // SMALL-STAR. Edges are already big→small, so Γ(u) here is all < u:
      // m = min Γ(u); attach u and every smaller neighbor except m itself.
      val minsS = large.groupBy(col("a")).agg(min(col("b")).as("m"))
      large.join(minsS, Seq("a"))
        .select(col("b").as("v"), col("m"))
        .unionByName(minsS.select(col("a").as("v"), col("m")))
        .filter(col("v") =!= col("m")) // v ≥ m always, so what remains is v > m
        .select(col("v").as("a"), col("m").as("b"))
        .distinct()
    }
    if (!res.converged)
      System.err.println(s"[graft] connectedComponentsStar: NOT converged " +
        s"after $maxIter rounds — labels may be partially collapsed")
    // fixpoint stars: every non-center a points at its component min b;
    // centers and isolated/self-loop-only vertices label themselves
    val labels = res.frame.groupBy(col("a")).agg(min(col("b")).as("component"))
      .select(col("a").as("v"), col("component"))
    vertices.join(labels, Seq("v"), "left")
      .select(col("v").as("vertex"),
        coalesce(col("component"), col("v")).as("component"))
  }

  /** k-core peel: `iters` synchronous rounds of "drop every vertex whose
    * degree in the surviving subgraph is < k" — the standard web-graph /
    * interaction-graph density screen (the k-core is where spam farms and
    * dense communities live; the periphery peels away). Run to the
    * fixpoint this computes THE k-core (unique, independent of peel
    * order); truncated at `iters` it is the well-defined "survivors of
    * `iters` synchronous peels", which an oracle can unroll round by
    * round — the [[labelPropagation]] fixed-round contract. Size `iters`
    * to the observed cascade depth (peeling cascades are shallow: each
    * round needs a vertex that was ABOVE k to fall below it, so depth is
    * bounded by the degree spread, not the graph size).
    *
    * `edges` must be symmetric, distinct, irreflexive (both directions
    * present — the [[labelPropagation]] contract), so degree(v) is the
    * row count with `src` = v.
    *
    * Scale posture: each round is one map-side-combinable degree count
    * plus two left-semi joins of the narrow (long, long) edge list
    * against the shrinking survivor set — no row ever widens; rounds run
    * through [[Rounds.iterate]]. Survivor sets only shrink, so every round
    * is no more expensive than the first.
    *
    * Output: (`vertex`, `deg`) for every vertex with ≥1 surviving edge —
    * `deg` measured in the surviving subgraph after the last round.
    */
  def kCorePeel(edges: DataFrame, src: String, dst: String, k: Int,
      iters: Int = 4): DataFrame = {
    require(iters >= 1, "kCorePeel needs at least one round")
    val res = Rounds.iterate(edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b")), iters) { r =>
      val e = r.frame
      val surv = r.scratch(e.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("a").as("v"))
        .localCheckpoint()) // read twice (both endpoint screens)
      e.join(surv.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(surv.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    }
    res.frame.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("vertex"), col("deg"))
  }

  /** k-truss peel: `iters` synchronous rounds of "drop every edge whose
    * SUPPORT (number of triangles it closes in the surviving subgraph) is
    * < k−2" — the edge-level sibling of [[kCorePeel]] (Cohen 2008). The
    * truss is a stronger cohesion screen than the core: an edge survives
    * only if its endpoints share k−2 common neighbors, so bridges and
    * barbell necks peel away even when both endpoints are high-degree.
    * Run to fixpoint this is THE k-truss (unique); truncated at `iters`
    * it is the well-defined "survivors of `iters` synchronous peels" the
    * oracle can unroll round by round.
    *
    * Input contract: CANONICAL undirected edges (src < dst, distinct, no
    * self-loops) — the [[clusteringCoefficients]] contract, so triangles
    * enumerate once each via the a<m<c wedge + closing-edge equi-joins.
    *
    * Scale posture: each round is the sparse oriented triangle
    * enumeration (never an all-pairs step; wedge fan-out is bounded by
    * the caller's hub prefilter, e.g. the median-weight cut), a ×3
    * explode of the TRIANGLE set only, one map-side-combinable count per
    * edge, and a semi-join of the narrow edge list against the survivors.
    * Edge sets only shrink, so round 1 is the most expensive.
    *
    * Output: (src, dst, `support`) for the surviving edges, support
    * measured in the FINAL surviving subgraph (≥ k−2 iff the peel reached
    * its fixpoint; triangle-free survivors can only exist when k = 2).
    */
  def kTrussPeel(edges: DataFrame, src: String, dst: String, k: Int,
      iters: Int = 3): DataFrame = {
    require(k >= 2, s"k-truss needs k >= 2, got $k")
    require(iters >= 1, "kTrussPeel needs at least one round")
    def support(ed: DataFrame): DataFrame = {
      val tri = ed.as("e1")
        .join(ed.as("e2"), col("e1.b") === col("e2.a"))
        .select(col("e1.a").as("a"), col("e1.b").as("m"), col("e2.b").as("c"))
        .join(ed.select(col("a"), col("b").as("c")), Seq("a", "c"))
      tri.select(explode(array(
          struct(col("a").as("x"), col("m").as("y")),
          struct(col("m").as("x"), col("c").as("y")),
          struct(col("a").as("x"), col("c").as("y")))).as("t"))
        .groupBy(col("t.x").as("a"), col("t.y").as("b"))
        .agg(count(lit(1)).as("support"))
    }
    val e = Rounds.iterate(edges.select(col(src).as("a"), col(dst).as("b")),
        iters) { r =>
      // k = 2 keeps support-0 edges, which have no support row at all (the
      // semi-join would wrongly drop them): nothing peels, so the input is
      // already the fixpoint
      if (k <= 2) r.frame
      else r.frame.join(support(r.frame).filter(col("support") >= k - 2)
        .select(col("a"), col("b")), Seq("a", "b"), "left_semi")
    }.frame
    e.join(support(e), Seq("a", "b"), "left")
      .select(col("a").as(src), col("b").as(dst),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) in fixed-point INTEGER
    * arithmetic: a directed edge u→v means hub u endorses authority v;
    * each round authorities sum their in-hubs, hubs sum their
    * out-authorities, and each side renormalizes so its MAXIMUM score is
    * exactly `scale` (integer multiply then truncating divide — the
    * max-norm replaces the paper's L2 norm because it keeps every
    * operation integral, so a 1000-executor run is bit-identical to the
    * single-node oracle; the eigenvector direction is the same). Runs
    * exactly `iters` rounds — oracle-unrollable like [[pageRankInt]].
    *
    *   a′(v) = Σ_{u→v} h(u);  a(v) = (a′(v)·scale) div max a′
    *   h′(u) = Σ_{u→v} a(v);  h(u) = (h′(u)·scale) div max h′
    *
    * Per round: two narrow (long, long) equi-joins + two map-side-
    * combinable sums; the raw-score frames are checkpointed so the two
    * tiny max fetches (single-row driver reads — bounded model state)
    * don't recompute the round. Overflow bound: raw sums are ≤ N·scale,
    * and the renormalization multiplies by `scale` before dividing, so
    * N·scale² must fit a signed long — N < 9·10⁶ at the default
    * micro-unit scale; lower `scale` for larger graphs (10⁹ vertices →
    * scale ≤ 3000).
    *
    * Output: (`vertex`, `hub`, `auth`) — hubs carry null `auth` unless
    * the vertex also receives edges, and vice versa; scores in
    * `1/scale` units.
    */
  def hitsInt(edges: DataFrame, src: String, dst: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "hitsInt needs at least one round")
    val e = edges.select(col(src).cast("long").as("u"),
        col(dst).cast("long").as("v"))
      .distinct()
      .localCheckpoint()
    var h = e.select(col("u")).distinct().withColumn("h", lit(scale))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val aRaw = e.join(h, Seq("u"))
        .groupBy(col("v")).agg(sum(col("h")).as("ar"))
        .localCheckpoint() // feeds both the max fetch and the rescale
      val am = aRaw.agg(max(col("ar"))).head().getLong(0)
      a = aRaw.select(col("v"), expr(s"(ar * $scale) div $am").as("a"))
      val hRaw = e.join(a, Seq("v"))
        .groupBy(col("u")).agg(sum(col("a")).as("hr"))
        .localCheckpoint()
      val hm = hRaw.agg(max(col("hr"))).head().getLong(0)
      h = hRaw.select(col("u"), expr(s"(hr * $scale) div $hm").as("h"))
    }
    h.select(col("u").as("vertex"), col("h"))
      .join(a.select(col("v").as("vertex"), col("a")), Seq("vertex"), "full_outer")
      .select(col("vertex"), col("h").as("hub"), col("a").as("auth"))
  }

  /** Multi-source BFS layers: dist(v) = hop distance to the NEAREST seed,
    * computed as exactly `maxDepth` synchronous min-propagation rounds —
    * the graph-distance feature pass (how far is every page from the
    * trusted set / every document from a labeled cluster). Fixed rounds
    * keep it oracle-unrollable; vertices unreached within `maxDepth` hops
    * emit null (distance genuinely unknown at that budget, NOT infinity).
    *
    * Per round: one narrow (long, long) edge⋈distance equi-join and one
    * map-side-combinable min — the [[connectedComponents]] shape with
    * min(d+1) in place of min(label), rounds run by [[Rounds.iterate]].
    *
    * Output: (`vertex`, `dist`) for every vertex in the edge list.
    */
  def bfsLayers(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1, "bfsLayers needs at least one round")
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val verts = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .distinct()
      .localCheckpoint()
    val sd = seeds.select(col(seedCol).cast("long").as("v")).distinct()
    val d = Rounds.iterate(
        verts.join(sd.withColumn("__s", lit(0L)), Seq("v"), "left")
          .select(col("v"), col("__s").as("dist")), maxDepth) { r =>
      val cand = e.join(r.frame.filter(col("dist").isNotNull)
          .select(col("v").as("a"), col("dist")), Seq("a"))
        .select(col("b").as("v"), (col("dist") + 1L).as("dist"))
      r.frame.unionByName(cand)
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
    }.frame
    d.select(col("v").as("vertex"), col("dist"))
  }

  /** SAMPLED Brandes betweenness centrality (Brandes 2001; Bader et al.'s
    * sampling regime) in fixed-point INTEGER arithmetic, organized
    * register-per-vertex (Bader & Madduri's multi-source layout; Boldi &
    * Vigna's HyperANF is the bitmap analogue): per-seed σ/δ counters ride
    * ONE array per vertex, so every round is an |E|-row equi-join
    * aggregating into |V| groups — never an |E|·|S| pair fan-out into
    * |S|·|V| groups, and never a shuffle proportional to the fan-out
    * (the element-wise [[org.apache.spark.sql.graftx.LongVectorSumAgg]]
    * collapses it map-side).
    *
    * Forward, per layer: σ(v)[s] = Σ over neighbor parents of σ[s]
    * (exact long sums), masked to first-reach by a packed visited bitmap
    * (⌈|S|/64⌉ words per vertex, maintained by codegen'd `bit_or`).
    * Measured note (sf0.1, local[32], warm min-of-3): fusing the σ-sum
    * and the bitmap union into ONE aggregation (carried rows with null
    * sig through vector_sum_long) ran ~20% SLOWER than this two-step
    * shape — the fused groupBy drags every carried |visited| row through
    * the non-codegen ObjectHashAggregate, while here those rows fold in a
    * whole-stage-codegen bit_or HashAggregate and only the frontier
    * fan-out pays the object agg; pre-partitioning the edge list doesn't
    * help either (localCheckpoint drops outputPartitioning, the join
    * reshuffles regardless). Exchanges are not the bottleneck; per-row
    * aggregation cost is.
    * Backward, per layer, quantized per CHILD in micro-units: u publishes
    * tq(u)[s] = ⌊(10⁶ + δq(u)[s])·10⁶ / σ(u)[s]⌋, parents sum tq over
    * their out-edges element-wise, and δq(v)[s] = ⌊σ(v)[s]·Σtq / 10⁶⌋.
    * Every division is integer and replayable by the oracle; σ(u) ≥ σ(v)
    * on a DAG edge bounds each σ(v)·tq(u) term by (10⁶+δq(u))·10⁶, so the
    * ladder stays inside a long for max degree up to ~2000 at depth 3.
    * bc_q(v) = Σ over seeds of δq(v), v ≠ s (≈ 10⁶ × the true sampled
    * betweenness; quantization error < deg·σ(v)/10⁶ micro-units per
    * vertex vs. the per-edge-exact recursion).
    *
    * Budget semantics ([[bfsLayers]] contract): paths longer than
    * `maxDepth` hops do not exist for this estimate, and the deepest
    * layer's vertices carry δ = 0 (they end every budgeted path), so the
    * output covers vertices reached at layers 1..maxDepth−1.
    *
    * `edges` must be symmetric, distinct, irreflexive for the undirected
    * reading. Scale posture: seeds are a SAMPLE (that is the published
    * estimator) and are collected once to index the registers — bounded
    * driver state by construction, the |S| knob also bounds the array
    * width; state frames are |V| rows × O(|S|) longs (the same data the
    * (seed,v) pair form holds, minus the per-pair row overhead).
    *
    * Output: (`vertex`, `n_seeds`, `bc_q`) — n_seeds = how many sampled
    * sources reached the vertex inside the accumulation window.
    */
  def betweennessInt(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int = 3,
      unit: Long = 1000000L): DataFrame = {
    require(maxDepth >= 2, "betweennessInt needs maxDepth >= 2")
    val spark = edges.sparkSession
    val seedIds = seeds.select(col(seedCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: seeds are the sample
    val outSchema = StructType(Seq(
      StructField("vertex", LongType),
      StructField("n_seeds", LongType),
      StructField("bc_q", LongType)))
    if (seedIds.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val n = seedIds.length
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val sigSchema = StructType(Seq(
      StructField("v", LongType),
      StructField("sig", ArrayType(LongType, containsNull = false))))
    val initRows = seedIds.zipWithIndex.map { case (s, i) =>
      Row(s,
        Seq.tabulate(n)(j => if (j == i) 1L else 0L))
    }
    var layers = Vector(spark.createDataFrame(
        spark.sparkContext.parallelize(initRows.toSeq, 1), sigSchema)
      .localCheckpoint())
    // visited state = CUMULATIVE per-seed path-count array (Σ of every
    // earlier layer's sig, folded by the same typed vector sum the
    // candidates use): seed i has reached v iff cum[i] != 0, so the
    // first-reach mask is one zip_with over two plain ARRAY ATTRIBUTES.
    // The r11 form packed visited into ⌈|S|/64⌉ bit words and re-tested
    // them per element with a transform lambda over a freshly-CONCAT'd
    // words array — CollapseProject inlines that concat into the lambda,
    // so the 4-word array was REBUILT per element (|S|× per row):
    // measured 9-45 s per BFS round at sf0.1 against ~1 s for everything
    // else in the round. The cumulative-sum form was measured at
    // interpreted-zip_with cost (~0.3 s/round) and keeps every value
    // exact (layer path counts are nonnegative, so the cumulative sum is
    // nonzero exactly where any layer's sig was).
    val visited = Rounds.iterate(
        layers(0).select(col("v"), col("sig").as("cum")), maxDepth) { r =>
      val cand = e
        .join(layers.last.select(col("v").as("a"), col("sig")), Seq("a"))
        .groupBy(col("b").as("v"))
        .agg(org.apache.spark.sql.graftx.VectorSumExpressions
          .vectorSumLong(col("sig"), n).as("cand"))
      val nf = cand.join(r.frame, Seq("v"), "left")
        .select(col("v"), expr("CASE WHEN cum IS NULL THEN cand " +
          "ELSE zip_with(cand, cum, (x, m) -> " +
          "IF(m != 0L, CAST(0 AS BIGINT), x)) END").as("sig"))
        .filter(expr("exists(sig, x -> x != 0)"))
        .localCheckpoint()
      layers :+= nf
      r.frame
        .unionByName(nf.select(col("v"), col("sig").as("cum")))
        .groupBy(col("v"))
        .agg(org.apache.spark.sql.graftx.VectorSumExpressions
          .vectorSumLong(col("cum"), n).as("cum"))
    }.frame
    // backward dependency accumulation; `deltas` is always layer d+1
    var deltas = layers(maxDepth)
      .select(col("v"), col("sig"),
        expr(s"array_repeat(CAST(0 AS BIGINT), $n)").as("delta"))
    var acc = Vector.empty[DataFrame]
    for (d <- (maxDepth - 1) to 1 by -1) {
      // per-child quantized terms, then the element-wise map-combinable
      // per-parent sum: the |E| fan-out lives only inside the partial
      // aggregate, and unreached seeds (σ = 0) contribute nothing
      val tq = deltas.select(col("v").as("b"),
        expr(s"zip_with(sig, delta, (sg, dl) -> IF(sg = 0, " +
          s"CAST(0 AS BIGINT), (($unit + dl) * $unit) div sg))").as("tq"))
      val tsum = e.join(tq, Seq("b"))
        .groupBy(col("a").as("v"))
        .agg(org.apache.spark.sql.graftx.VectorSumExpressions
          .vectorSumLong(col("tq"), n).as("tsum"))
      val dd = layers(d).join(tsum, Seq("v"), "left")
        .select(col("v"), col("sig"),
          expr(s"CASE WHEN tsum IS NULL THEN " +
            s"array_repeat(CAST(0 AS BIGINT), $n) ELSE " +
            s"zip_with(sig, tsum, (sg, t) -> (sg * t) div $unit) END")
            .as("delta"))
        .localCheckpoint()
      deltas = dd
      acc :+= dd
    }
    // every dd in acc is eagerly checkpointed — the returned plan
    // references only those; the edge list, seed/layer frames, and the
    // final visited bitmap can release their blocks now
    (Seq(e, visited) ++ layers).foreach(unpersistLocalCheckpoint)
    acc.map(_.select(col("v"),
        expr("CAST(size(filter(sig, x -> x != 0)) AS BIGINT)").as("cnt"),
        expr("aggregate(delta, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("dsum")))
      .reduce(_ unionByName _)
      .groupBy(col("v"))
      .agg(sum(col("cnt")).as("n_seeds"), sum(col("dsum")).as("bc_q"))
      .select(col("v").as("vertex"), col("n_seeds"), col("bc_q"))
  }

  /** Per-seed BFS distances from a SAMPLED source set — the state behind
    * sampled harmonic / closeness centrality (Boldi & Vigna 2014's
    * pragmatic answer to exact all-pairs distances being hopeless at
    * scale: run |S| tagged BFS waves at once and estimate from those),
    * organized as HyperANF organizes its registers: the per-seed
    * reached-set is a PACKED BITMAP of ⌈|S|/64⌉ words per VERTEX, so a
    * round is one |E|-row equi-join aggregating into |V| groups with
    * codegen'd `bit_or` — never an |E|·|S| pair fan-out into |S|·|V|
    * groups. Newly-set bits per round record that round's BFS layer
    * (first-reach = BFS distance); the (seed, vertex, dist) rows only
    * materialize in the final explode, after all the heavy lifting.
    *
    * Seeds are collected once to index the bits — bounded driver state by
    * construction (they are the sample; |S| is the estimator's own knob,
    * and also bounds the row width). State frames are |V| rows × ⌈|S|/64⌉
    * longs — 64 seeds per word of the pair-form's footprint.
    *
    * Output: (`seed`, `vertex`, `dist`) with dist ∈ [0, maxDepth] —
    * reached pairs only, identical to the tagged-pair formulation.
    */
  def multiSourceDistances(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int = 3): DataFrame = {
    require(maxDepth >= 1, "multiSourceDistances needs at least one round")
    val spark = edges.sparkSession
    val seedIds = seeds.select(col(seedCol).cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted // bounded: seeds are the sample
    val outSchema = StructType(Seq(
      StructField("seed", LongType),
      StructField("vertex", LongType),
      StructField("dist", LongType)))
    if (seedIds.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val n = seedIds.length
    val nWords = (n + 63) / 64
    val wNames = (0 until nWords).map(w => s"w$w")
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val initSchema = StructType(
      StructField("v", LongType) +:
        wNames.map(wn => StructField(wn, LongType)))
    val initRows = seedIds.zipWithIndex.map { case (s, i) =>
      Row.fromSeq(s +:
        Seq.tabulate(nWords)(w => if (i / 64 == w) 1L << (i % 64) else 0L))
    }
    var frontier = spark.createDataFrame(
      spark.sparkContext.parallelize(initRows.toSeq, 1), initSchema)
      .localCheckpoint()
    val orAgg = wNames.map(wn => expr(s"bit_or($wn)").as(wn))
    var outFrames = Vector(frontier.withColumn("dist", lit(0L)))
    val reached = Rounds.iterate(
        frontier.select(col("v") +: wNames.map(col): _*), maxDepth) { r =>
      val cand = e
        .join(frontier.withColumnRenamed("v", "a"), Seq("a"))
        .groupBy(col("b").as("v"))
        .agg(orAgg.head, orAgg.tail: _*)
      // first-reach mask: bits set by a neighbor this round minus bits
      // already owned — those are exactly the distance-d pairs
      frontier = cand
        .join(r.frame.select(col("v") +:
          wNames.map(wn => col(wn).as(s"o$wn")): _*), Seq("v"), "left")
        .select(col("v") +: wNames.map(wn =>
          expr(s"$wn & ~coalesce(o$wn, CAST(0 AS BIGINT))").as(wn)): _*)
        .filter(wNames.map(wn => col(wn) =!= 0L).reduce(_ || _))
        .localCheckpoint()
      outFrames :+= frontier.withColumn("dist", lit(r.index + 1L))
      r.frame.unionByName(frontier)
        .groupBy(col("v")).agg(orAgg.head, orAgg.tail: _*)
    }.frame
    // the output reads the frontier frames only
    unpersistLocalCheckpoint(reached)
    // explode packed bits back to (seed, vertex, dist) rows; the idx→seed
    // map is the collected sample, broadcast back as a tiny frame
    val idxDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        seedIds.zipWithIndex.map { case (s, i) =>
          Row(i, s)
        }.toSeq, 1),
      StructType(Seq(StructField("idx", IntegerType),
        StructField("seed", LongType))))
    val idxArr = expr("filter(flatten(array(" +
      (0 until nWords).map(w => s"transform(sequence(0, 63), j -> " +
        s"IF((shiftright(w$w, j) & 1) = 1, ${w * 64} + j, -1))")
        .mkString(", ") +
      ")), x -> x >= 0)")
    outFrames.reduce(_ unionByName _)
      .select(col("v").as("vertex"), col("dist"), explode(idxArr).as("idx"))
      .join(broadcast(idxDf), Seq("idx"))
      .select(col("seed"), col("vertex"), col("dist"))
  }

  /** HyperANF (Boldi, Rosa & Vigna 2011): the neighborhood function
    * N(h) = |{(u,v) : dist(u,v) ≤ h}| estimated with an HLL register per
    * VERTEX instead of a reached-set — the formulation whose state is
    * O(|V|·2^lgK) bytes regardless of how many sources there are, i.e.
    * the ONLY shape that reaches all-pairs territory on a big graph
    * (the exact [[multiSourceDistances]] bitmap is |V|·|S| bits and caps
    * at sampled sources). Each round unions every vertex's register into
    * its out-neighbors' (one |E|-row equi-join into a map-combinable
    * `hll_union_agg`, then a narrow merge join with the previous state —
    * registers are monotone, so propagating full sketches is the
    * published recurrence), and N(h) reads off as the sum of per-vertex
    * estimates — observed on each round's own [[Rounds.iterate]] job.
    *
    * `sources` picks whose ids enter the registers: pass all vertices for
    * the true all-pairs statistic, or a sample to make the estimate
    * exactly checkable against the bitmap-exact sibling (the gate does
    * this). DataSketches hashing is deterministic, so the estimate is a
    * fixed number per input — a tolerance check against exact is green
    * forever, not flaky.
    *
    * Output: (`h`, `est`) for h ∈ [0, maxDepth] — est = estimated number
    * of (source, vertex) pairs within h hops (integer: the estimator
    * rounds per vertex).
    */
  def hyperAnf(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, srcCol: String, maxDepth: Int = 3,
      lgK: Int = 9): DataFrame = {
    require(maxDepth >= 1, "hyperAnf needs at least one round")
    val spark = edges.sparkSession
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val init = sources
      .select(col(srcCol).cast("long").as("v"))
      .distinct()
      .groupBy(col("v"))
      .agg(hll_sketch_agg(col("v"), lit(lgK)).as("sk"))
    // N(h) is a progress measure, not a fingerprint: run every round
    val res = Rounds.iterate(init, maxDepth,
        signature = Seq(sum(hll_sketch_estimate(col("sk")))),
        stop = _ => false) { r =>
      val cand = e
        .join(r.frame.withColumnRenamed("v", "a"), Seq("a"))
        .groupBy(col("b").as("v"))
        .agg(hll_union_agg(col("sk"), lit(true)).as("nsk"))
      r.frame.join(cand, Seq("v"), "full")
        .select(col("v"),
          when(col("sk").isNull, col("nsk"))
            .when(col("nsk").isNull, col("sk"))
            .otherwise(hll_union(col("sk"), col("nsk"), true)).as("sk"))
    }
    Seq(e, res.frame).foreach(unpersistLocalCheckpoint)
    import spark.implicits._
    res.signatures.zipWithIndex.map { case (t, h) => h -> t.getLong(0) }
      .toDF("h", "est")
  }

  /** Seeded LABEL SPREADING (the Zhou et al. 2004 shape in fixed-point
    * integer arithmetic): labeled seed vertices inject constant per-class
    * mass every round, mass diffuses along out-edges degree-normalized
    * and damped, and each vertex predicts the argmax class — the
    * semi-supervised propagation pass (spread a few thousand human
    * quality labels over a near-dup / link graph). The recurrence is the
    * [[personalizedPageRankInt]] one run for ALL classes at once (the
    * class rides as a grouping column — one plan regardless of |L|):
    *
    *   m₀(v,l)   = scale·[v ∈ S_l]
    *   mₖ₊₁(v,l) = (15·scale·[v ∈ S_l]) div 100
    *               + (85 · Σ_{(u,v)∈E} (mₖ(u,l) div deg(u))) div 100
    *
    * Same overflow bound and salting considerations as PPR (multiply the
    * bound by |L| classes). Ties break to the SMALLEST label; vertices
    * reached by no class mass emit null.
    *
    * Output: (`vertex`, `label`, `mass`) — the winning class and its
    * final fixed-point mass.
    */
  def labelSpread(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedCol: String, labelCol: String,
      iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "labelSpread needs at least one round")
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .localCheckpoint()
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val verts = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .distinct()
      .localCheckpoint()
    val sd = seeds.select(col(seedCol).cast("long").as("v"),
        col(labelCol).cast("long").as("l"))
      .distinct()
      .localCheckpoint()
    val base = (15L * scale) / 100L
    var m = sd.withColumn("m", lit(scale))
    for (_ <- 1 to iters) {
      val contrib = e.join(deg, Seq("a"))
        .join(m.select(col("v").as("a"), col("l"), col("m")), Seq("a"))
        .groupBy(col("b").as("v"), col("l"))
        .agg(sum(expr("m div d")).as("s"))
        .select(col("v"), col("l"), expr("(85 * s) div 100").as("m"))
      m = sd.withColumn("m", lit(base))
        .unionByName(contrib)
        .groupBy(col("v"), col("l")).agg(sum(col("m")).as("m"))
    }
    // argmax class per vertex: max over the (mass, −label) struct
    val winner = m.groupBy(col("v"))
      .agg(max(struct(col("m"), (-col("l")).as("nl"))).as("w"))
      .select(col("v"), (-col("w.nl")).as("label"), col("w.m").as("mass"))
    verts.join(winner, Seq("v"), "left")
      .select(col("v").as("vertex"), col("label"), col("mass"))
  }

  /** Per-community Newman modularity terms (Newman & Girvan, PRE 2004)
    * for a vertex→community labeling over a SYMMETRIC edge list:
    *
    *   Q = Σ_c [ intra2_c/2m − (deg_c/2m)² ]
    *
    * with intra2_c the within-community count of DIRECTED edge rows (each
    * undirected edge twice — exactly 2m-normalized), deg_c the community
    * degree sum. Terms quantize to 1e-8 units per community BEFORE any
    * cross-community reduction, so Σ term_q is an order-free long sum —
    * the engine-exactness discipline of the moment aggregates.
    *
    * Scale shape: one degree aggregation, two narrow label equi-joins,
    * two map-side-combinable per-community sums; 2m rides a broadcast
    * 1-row frame, never a driver literal.
    *
    * Output: (`community`, `intra2`, `deg_c`, `term_q`), one row per
    * community; Q_micro×100 = Σ term_q.
    */
  def modularityTerms(edges: DataFrame, src: String, dst: String,
      labels: DataFrame, vertexCol: String, communityCol: String): DataFrame = {
    val e = edges.select(col(src).as("a"), col(dst).as("b")).localCheckpoint()
    val lab = labels.select(col(vertexCol).as("v"), col(communityCol).as("c"))
    val tot = e.agg(count(lit(1)).as("e2"))
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val degC = deg.join(lab.withColumnRenamed("v", "a"), Seq("a"))
      .groupBy(col("c")).agg(sum(col("d")).as("deg_c"))
    val intra = e
      .join(lab.select(col("v").as("a"), col("c").as("ca")), Seq("a"))
      .join(lab.select(col("v").as("b"), col("c").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("c")).agg(count(lit(1)).as("intra2"))
    val e2d = col("e2").cast("double")
    degC.join(intra, Seq("c"), "left")
      .crossJoin(broadcast(tot))
      .select(col("c").as("community"),
        coalesce(col("intra2"), lit(0L)).as("intra2"),
        col("deg_c"),
        round((coalesce(col("intra2"), lit(0L)).cast("double") / e2d
          - (col("deg_c").cast("double") / e2d)
            * (col("deg_c").cast("double") / e2d)) * lit(1e8))
          .cast("long").as("term_q"))
  }

  /** DETERMINISTIC random-walk corpus (the DeepWalk / node2vec(p=q=1)
    * sampling pass — Perozzi et al., KDD 2014): `walksPerVertex` walks of
    * `steps` hops from every start vertex, where hop k of walk w at
    * vertex v moves to neighbor number
    *
    *   (v·1103515245 + w·12345 + k·2747636419 + seed) mod deg(v)
    *
    * over the neighbor list sorted by id — a linear-congruential mix in
    * plain non-overflowing integer arithmetic, so the exact same walks
    * come out of any engine, partitioning, or retry (a true RNG would
    * make the corpus unreproducible and the oracle impossible; walk
    * STATISTICS only need hash-grade mixing, the LCG constants are the
    * classic glibc/Numerical-Recipes pair).
    *
    * Scale shape: the indexed adjacency (one per-vertex-partitioned
    * row_number window — never global) and the degree table checkpoint
    * once; each hop is ONE narrow equi-join on (vertex, chosen-index)
    * carrying (start, walk, long) triples. Walk frames grow as
    * |starts|·W rows regardless of step count. Vertex ids must stay
    * below ~8·10⁹ so the mix product fits a signed long (DuckDB errors
    * on overflow where Spark would wrap — the bound keeps both exact).
    *
    * Start vertices absent from the edge list emit their step-0 row and
    * stop (nothing to walk). Output: (`start`, `walk`, `step`, `vertex`).
    */
  def deterministicWalks(edges: DataFrame, src: String, dst: String,
      starts: DataFrame, startCol: String, steps: Int, walksPerVertex: Int,
      seed: Long = 12345L): DataFrame = {
    require(steps >= 1 && walksPerVertex >= 1, "need ≥1 step and ≥1 walk")
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .distinct()
      .localCheckpoint() // feeds adjacency + degrees
    val wn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("b"))
    val adj = e.withColumn("idx", (row_number().over(wn) - 1).cast("long"))
      .localCheckpoint() // probed every hop
    val deg = adj.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    var cur = starts.select(col(startCol).cast("long").as("start"))
      .distinct()
      .select(col("start"),
        explode(sequence(lit(0), lit(walksPerVertex - 1))).as("walk"))
      .withColumn("step", lit(0))
      .withColumn("vertex", col("start"))
    var out = cur
    for (k <- 1 to steps) {
      val h = col("vertex") * lit(1103515245L) + col("walk") * lit(12345L) +
        lit(k.toLong) * lit(2747636419L) + lit(seed)
      val next = cur
        .join(deg.withColumnRenamed("a", "vertex"), Seq("vertex"))
        .select(col("start"), col("walk"), col("vertex").as("a"),
          (h % col("d")).as("idx"))
        .join(adj, Seq("a", "idx"))
        .select(col("start"), col("walk"), lit(k).as("step"),
          col("b").as("vertex"))
        .localCheckpoint() // keeps hop plans flat; every hop frame stays
      // materialized — each is |starts|·W narrow rows and the union
      // output reads them all, so nothing is unpersisted here
      cur = next
      out = out.unionByName(cur)
    }
    out
  }

  /** Adamic-Adar link prediction (Adamic & Adar, Social Networks 2003):
    * for every NON-adjacent pair (u, v) with at least one common neighbor,
    * score Σ_{w ∈ Γ(u)∩Γ(v)} 1/ln(deg w) — rarer shared neighbors count
    * more. Per-neighbor weights quantize to integer micro-units ONCE
    * (round(10⁶/ln deg)), so pair scores are integer sums — engine- and
    * partitioning-exact. `edges` must contain both orientations of each
    * undirected edge.
    *
    * Scale: the candidate stream is the wedge set — Σ_w deg(w)² rows of
    * three longs flowing through one self-equi-join on the center vertex.
    * `maxDeg` caps that quadratic at hub centers (the standard practice:
    * a shared neighbor of degree 10⁶ carries ~0 Adamic-Adar weight but
    * 10¹² wedges; dropping centers above the cap changes scores by at most
    * wedges·1/ln(maxDeg) while removing the blowup). Degree-1 vertices
    * cannot be common neighbors, so ln is never evaluated at 1.
    *
    * Output: (`u`, `v`, `aa_q`) with u < v, micro-unit scores.
    */
  def adamicAdar(edges: DataFrame, src: String, dst: String,
      maxDeg: Int = 1000): DataFrame = {
    val e = edges.select(col(src).cast("long").as("u"),
        col(dst).cast("long").as("v"))
      .distinct()
      .localCheckpoint() // reused: degrees, wedge join, adjacency filter
    val deg = e.groupBy(col("u").as("w")).agg(count(lit(1)).as("d"))
    val wts = deg.filter(col("d") >= 2 && col("d") <= maxDeg)
      .select(col("w"),
        round(lit(1e6) / log(col("d").cast("double"))).cast("long").as("aw"))
    // (endpoint, center, weight) — each vertex's capped-degree neighbors
    val half = e.join(wts, e("v") === wts("w"))
      .select(col("u"), col("w"), col("aw"))
    val pairs = half.as("l")
      .join(half.as("r"),
        col("l.w") === col("r.w") && col("l.u") < col("r.u"))
      .select(col("l.u").as("u"), col("r.u").as("v"), col("l.aw").as("aw"))
    val adj = e.filter(col("u") < col("v"))
    pairs.groupBy(col("u"), col("v"))
      .agg(sum(col("aw")).as("aa_q"))
      .join(adj, Seq("u", "v"), "left_anti") // predict only MISSING links
  }

  /** Borůvka minimum spanning forest over an undirected weighted graph
    * (Borůvka 1926; the log-round distributed MST — Kruskal and Prim are
    * inherently sequential, Borůvka's "every component grabs its lightest
    * outgoing edge" step is one shuffle). Edges are totally ordered by
    * (weight, min endpoint, max endpoint), which makes the selected forest
    * UNIQUE and deterministic even under weight ties — the property that
    * lets a round-unrolled SQL oracle replay the law term by term.
    *
    * Per round: (1) label edge endpoints with their component and keep
    * cross-component edges; (2) per component, argmin cross edge by the
    * total order (a map-combinable min-struct — no window); (3) every
    * selected edge joins the forest (cut property: it is the minimum edge
    * crossing the cut around its component); (4) contract: the selected
    * pseudo-forest (each component points at its partner) has its unique
    * 2-cycles broken toward the smaller label, then pointer-DOUBLING
    * (p := p∘p) collapses every chain to its root. The doubling count is
    * the CLOSED-FORM bound ⌈log₂ comps⌉ (≤ 63 — chain depth is bounded by
    * the live component count), never truncated: an under-doubled round
    * would leave one merged tree under multiple labels and a later round
    * could then select a second edge between them, silently emitting a
    * cycle. Full contraction also means the component count at least
    * halves per round, so `maxRounds` = ⌈log₂ n⌉ suffices; if the round
    * budget is exhausted with cross edges remaining the output is still a
    * forest but may not span — a stderr warning fires.
    *
    * Scale posture: the state is (vertex → component) plus the shrinking
    * (component → parent) table; every step is a narrow equi-join or a
    * map-side-combinable aggregation over (long, long, long) rows — no
    * windows, no driver collects. Both the round loop and the jump loop
    * run through [[Rounds.iterate]]. Weights must already be integer
    * (quantize upstream) so argmin is exact cross-engine.
    *
    * Output: (`id_a`, `id_b`, `w_q`) — the forest edges, id_a < id_b.
    */
  def boruvkaMst(edges: DataFrame, src: String, dst: String, weight: String,
      maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    // canonical undirected edge list; parallel edges keep the minimum weight
    val e0 = edges.select(
        least(col(src), col(dst)).cast("long").as("u"),
        greatest(col(src), col(dst)).cast("long").as("v"),
        col(weight).cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .localCheckpoint()
    var mst = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id_a", LongType),
        StructField("id_b", LongType), StructField("w_q", LongType))))
    // chain depth is bounded by the live component count, so ⌈log₂ comps⌉
    // doublings reach every root — a closed-form bound (≤ 63, the count is
    // a long) beats a stability-check join per jump, and it is NEVER
    // truncated: stopping short leaves a merged tree under multiple
    // labels, which a later round can close into a cycle
    def doublings(comps: Long): Int =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(comps - 1, 1L))
    val res = Rounds.iterate(e0.select(col("u").as("vtx"))
        .unionByName(e0.select(col("v").as("vtx")))
        .distinct()
        .withColumn("comp", col("vtx")), maxRounds) { r =>
      // STATS REBASE (load-bearing): localCheckpoint PRESERVES the origin
      // plan's sizeInBytes, and the pointer-doubling self-join SQUARES it
      // per jump — compounding across rounds into a doubly-exponential
      // BigInteger that Catalyst's stats visitor then multiplies at
      // million-digit widths (measured: round 3 of a K1000 graph never
      // returns, driver pinned in BigInteger.multiplyToomCook3). Passing
      // each relabeled round through an RDD boundary resets the estimate
      // to the conf default, bounding per-round stats growth. The loop
      // still frees the checkpoint itself, not this wrapper.
      val comp = if (r.index == 0) r.frame
        else spark.createDataFrame(r.frame.rdd, r.frame.schema)
      // the cross-edge count rides the checkpoint's own materialization:
      // the emptiness probe costs no second job
      val (cross, nCross) = Rounds.checkpoint(e0
        .join(comp.select(col("vtx").as("u"), col("comp").as("cu")), Seq("u"))
        .join(comp.select(col("vtx").as("v"), col("comp").as("cv")), Seq("v"))
        .filter(col("cu") =!= col("cv")), Seq(count(lit(1))))
      if (nCross.getLong(0) == 0L) {
        unpersistLocalCheckpoint(cross)
        r.frame // no cross edge left: this labeling is the fixpoint
      } else {
        // both orientations so every component scores its incident cut;
        // the partner label rides the struct BEHIND the (w, u, v) total
        // order, so min() is argmin and carries the hook target for free
        val both = cross.select(col("cu").as("c"),
            struct(col("w"), col("u"), col("v"), col("cv").as("t")).as("k"))
          .unionByName(cross.select(col("cv").as("c"),
            struct(col("w"), col("u"), col("v"), col("cu").as("t")).as("k")))
        val sel = both.groupBy(col("c")).agg(min(col("k")).as("k"))
          .select(col("c"), col("k.w").as("w"), col("k.u").as("u"),
            col("k.v").as("v"), col("k.t").as("t"))
          .localCheckpoint()
        // sel is checkpointed — nothing downstream depends on cross now
        unpersistLocalCheckpoint(cross)
        mst = mst.unionByName(
          sel.select(col("u").as("id_a"), col("v").as("id_b"),
            col("w").as("w_q")).distinct())
        // 2-cycle break: a mutually-selected pair roots at its smaller
        // label; every other component hooks to its partner
        val tm = sel.select(col("c"), col("t"))
        val hooked = tm.as("x")
          .join(tm.as("y"), col("x.t") === col("y.c"), "left")
          .select(col("x.c").as("c"),
            when(col("y.t") === col("x.c") && col("x.t") > col("x.c"),
              col("x.c")).otherwise(col("x.t")).as("p"))
        // TWO doublings compose per materialization (stride ×4 per job):
        // the self-join references the cached map 4× — scans of a tiny
        // pinned table — but the JOB count halves, and at gate scales the
        // jump loop is job-latency-bound, not scan-bound. Past the
        // fixpoint extra jumps are idempotent (p(root) = root), so an odd
        // doubling count needs no remainder step. The map's row count (the
        // live component count, the same every jump) is the signature that
        // sets the bound; 32 jumps cover any long count.
        val pmap = Rounds.iterate(comp.select(col("comp").as("c")).distinct()
            .join(hooked, Seq("c"), "left")
            .withColumn("p", coalesce(col("p"), col("c"))), 32,
            signature = Seq(count(lit(1))),
            stop = j => 2 * j.index >= doublings(j.signature.getLong(0))) { j =>
          val once = j.frame.as("x")
            .join(j.frame.as("y"), col("x.p") === col("y.c"))
            .select(col("x.c").as("c"), col("y.p").as("p"))
          once.as("x")
            .join(once.as("y"), col("x.p") === col("y.c"))
            .select(col("x.c").as("c"), col("y.p").as("p"))
        }.frame
        r.scratch(pmap)
        comp.join(pmap.withColumnRenamed("c", "comp"), Seq("comp"))
          .select(col("vtx"), col("p").as("comp"))
      }
    }
    if (!res.converged)
      System.err.println(s"[graft] boruvkaMst: cross edges may remain " +
        s"after $maxRounds rounds — output is a forest but may not span; " +
        s"raise maxRounds")
    // the returned plan references the per-round sel checkpoints (the
    // forest edges, geometrically shrinking) but not e0 or the final
    // component map
    Seq(e0, res.frame).foreach(unpersistLocalCheckpoint)
    mst.distinct()
  }

  /** Strongly connected components of a DIRECTED graph — min-label
    * COLORING (Orzan 2004's coloring scheme with the random pivots
    * replaced by deterministic minimum labels): per outer round, over the
    * still-active subgraph, (1) propagate F(v) = min of v's forward
    * (descendant) closure — an SCC invariant, so every SCC sits inside
    * one F-color, and any v with F(v) = c reaches c WITHIN its color
    * class; (2) flood forward from each color's pivot c over the
    * color-restricted edges — exactly SCC(c) is reached (mutuality: F
    * gives v→c, the flood gives c→v); (3) assign and remove one SCC per
    * COLOR, then re-run on the residual. Both fixpoints are MONOTONE
    * (min / growing set): extra rounds are no-ops, which is what lets a
    * round-unrolled SQL oracle replay the law with any round budget ≥
    * the engine's early exits.
    *
    * Scale: state is (vertex, label) × 2 plus the shrinking active set;
    * the outer, propagation and flood loops each run through
    * [[Rounds.iterate]]. Each propagation step is one equi-join of the
    * active edge list against a label table plus a map-combinable min —
    * the PageRank shape. Budgets: `propRounds` bounds label propagation DISTANCE
    * (graph diameter-ish), `outerRounds` bounds condensation peeling;
    * vertices still live after the budget get scc_id −1 and a loud
    * stderr warning (the [[connectedComponents]] convention).
    *
    * Output: (`vertex`, `scc_id`) — scc_id = min vertex id of the SCC,
    * or −1 if unresolved within the budget.
    */
  def stronglyConnectedComponents(edges: DataFrame, src: String,
      dst: String, outerRounds: Int = 6, propRounds: Int = 32): DataFrame = {
    val e0 = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val verts = e0.select(col("a").as("v"))
      .unionByName(e0.select(col("b").as("v")))
      .distinct()
      .localCheckpoint()
    val spark = e0.sparkSession
    var assigned = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("v", LongType),
        StructField("scc_id", LongType))))
    var truncated = false
    // the active set is a SEPARATE checkpoint from verts (the loop frees
    // each superseded active set; verts must survive to the final join),
    // and its count is each round's signature: emptiness ends the loop
    val outer = Rounds.iterate(verts, outerRounds,
        signature = Seq(count(lit(1))),
        stop = _.signature.getLong(0) == 0L) { r =>
      val active = r.frame
      val ea = e0
        .join(active.withColumnRenamed("v", "a"), Seq("a"))
        .join(active.withColumnRenamed("v", "b"), Seq("b"))
        .localCheckpoint()
      // one monotone min-propagation to (early-exit) fixpoint over the
      // forward (descendant) closure; assigning from a NON-fixpoint table
      // would split a real SCC across ids (stale-label members miss this
      // round's flood and get a different id later).
      //
      // Fixpoint signature: an EXACT monotone invariant. The vertex set is
      // constant across rounds (every v reappears in the union's left leg)
      // and labels only DECREASE under min-propagation, so (count, Σ l as
      // DECIMAL(38,0)) unchanged ⇔ no label moved ⇔ fixpoint — with no
      // hash-collision bound (a count + bit_xor(xxhash64(v, l)) form is
      // sound only up to a ~2⁻⁶⁴/round collision). A sum that overflows
      // to null throws in [[Rounds]] instead of faking a fixpoint. (A
      // delta-frontier variant — join only last round's changed labels —
      // was measured SLOWER here: the extra join + changed-flag plan cost
      // more than the shrinking wavefront saved at these depths.)
      val fwd = Rounds.iterate(active.withColumn("l", col("v")), propRounds,
          signature = Seq(count(lit(1)),
            sum(col("l").cast("decimal(38,0)")))) { p =>
        p.frame
          .unionByName(ea
            .join(p.frame.withColumnRenamed("v", "b"), Seq("b"))
            .select(col("a").as("v"), col("l")))
          .groupBy(col("v")).agg(min(col("l")).as("l"))
      }
      val f = fwd.frame
      if (!fwd.converged) {
        // deterministic recomputation over the same active set would hit
        // the identical non-fixpoint — no progress is possible; bail out
        // and let the still-active vertices surface as scc_id -1
        System.err.println(s"[graft] scc: propagation NOT at fixpoint " +
          s"after $propRounds rounds — raise propRounds; " +
          s"unresolved vertices get scc_id -1")
        truncated = true
        Seq(f, ea).foreach(unpersistLocalCheckpoint)
        active
      } else {
        // color-restricted pivot reach (Orzan coloring): an SCC lies wholly
        // inside one F-color (F is an SCC invariant), every v with F(v) = c
        // reaches c within the color class (any intermediate w on the path
        // has F(w) = c — smaller would contradict F(v) = c), so the color's
        // pivot SCC is exactly the vertices FORWARD-reachable from c inside
        // the class: one SCC assigned PER COLOR per round, which is what
        // peels DAG-like condensations in logarithmic rounds instead of one
        // pivot per round
        val fa = f.select(col("v").as("a"), col("l").as("la"))
        val fb = f.select(col("v").as("b"), col("l").as("lb"))
        val colorEdges = ea.join(fa, Seq("a")).join(fb, Seq("b"))
          .filter(col("la") === col("lb"))
          .select(col("a"), col("b"))
          .localCheckpoint()
        // frontier-based flood: only LAST round's newly-reached vertices can
        // reach anything new, so the edge join runs against the frontier
        // instead of the whole growing reach set; an empty frontier is the
        // fixpoint. The reached set is the union of the frontiers (disjoint
        // by construction: each round anti-joins what is already reached),
        // so the loop keeps every round's frame.
        var reachFrames = Vector.empty[DataFrame]
        def reach = reachFrames.reduce(_ unionByName _)
        val flood = Rounds.iterate(f.filter(col("v") === col("l"))
            .select(col("v")), propRounds, signature = Seq(count(lit(1))),
            stop = _.signature.getLong(0) == 0L, keepRounds = true) { q =>
          reachFrames :+= q.frame
          colorEdges
            .join(q.frame.withColumnRenamed("v", "a"), Seq("a"))
            .select(col("b").as("v")).distinct()
            .join(reach, Seq("v"), "left_anti")
        }
        val next = if (!flood.converged) {
          // a partial flood under-covers the pivot SCC — assigning from it
          // would report one true SCC under several ids; same bail-out as
          // the propagation budget (deterministic retry cannot progress)
          System.err.println(s"[graft] scc: pivot reach NOT at fixpoint " +
            s"after $propRounds rounds — raise propRounds; " +
            s"unresolved vertices get scc_id -1")
          truncated = true
          reachFrames :+= flood.frame
          active
        } else {
          unpersistLocalCheckpoint(flood.frame)
          val newly = f.join(reach, Seq("v"))
            .select(col("v"), col("l").as("scc_id"))
            .localCheckpoint()
          assigned = assigned.unionByName(newly)
          active.join(newly, Seq("v"), "left_anti")
        }
        // per-round scaffolding — nothing the result references
        Seq(reach, colorEdges, f, ea).foreach(unpersistLocalCheckpoint)
        next
      }
    }
    val activeCount = outer.signatures.last.getLong(0)
    if (activeCount != 0L)
      System.err.println(s"[graft] scc: $activeCount vertices " +
        s"unresolved after ${outer.rounds} outer rounds — raise " +
        (if (truncated) "propRounds" else "outerRounds"))
    Seq(e0, outer.frame).foreach(unpersistLocalCheckpoint)
    // the returned plan references verts + the per-round `newly`
    // checkpoints behind `assigned` — those must outlive the return
    verts.join(assigned, Seq("v"), "left")
      .select(col("v").as("vertex"),
        coalesce(col("scc_id"), lit(-1L)).as("scc_id"))
  }

  /** Deterministic Luby maximal independent set (Luby 1986, with the
    * random priorities replaced by the engine-neutral total order
    * (md5(vertex), vertex) — same expected O(log n) rounds, but every
    * round is exactly replayable by a SQL oracle). Per round, an ACTIVE
    * vertex joins the MIS iff its priority beats every active neighbor's;
    * MIS vertices and their neighbors then deactivate. Isolated-by-
    * deactivation vertices win their (empty) neighborhood and join.
    *
    * Scale: state is the active-vertex set, carried by
    * [[Rounds.iterate]]; each round is one equi-join of the edge list
    * against it plus a map-combinable min — the PageRank shape. `edges`
    * must contain both orientations.
    *
    * Output: (`vertex`, `mis_round`) — every vertex of the graph, with the
    * 1-based round it entered the MIS, 0 if it was dominated, or −1 if it
    * was still undecided when `maxRounds` ran out (a loud stderr warning
    * fires; −1 vertices may have no MIS neighbor, so maximality is only
    * guaranteed when none are emitted).
    */
  def lubyMis(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 24): DataFrame = {
    val e = edges.select(col(src).cast("long").as("a"),
        col(dst).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()
    val pri = struct(md5(col("vtx").cast("string")), col("vtx"))
    val spark = e.sparkSession
    var result = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("vertex", LongType),
        StructField("mis_round", LongType))))
    // the active count is each round's signature: emptiness ends the loop
    val res = Rounds.iterate(e.select(col("a").as("vtx")).distinct(),
        maxRounds, signature = Seq(count(lit(1))),
        stop = _.signature.getLong(0) == 0L) { r =>
      val active = r.frame
      // live edges: both endpoints active
      val live = e
        .join(active.withColumnRenamed("vtx", "a"), Seq("a"))
        .join(active.withColumnRenamed("vtx", "b"), Seq("b"))
      val nbrMin = live
        .select(col("a").as("vtx"),
          struct(md5(col("b").cast("string")), col("b")).as("np"))
        .groupBy(col("vtx")).agg(min(col("np")).as("np"))
      val winners = active.join(nbrMin, Seq("vtx"), "left")
        .filter(col("np").isNull || pri < col("np"))
        .select(col("vtx"))
        .localCheckpoint()
      result = result.unionByName(
        winners.select(col("vtx").as("vertex"),
          lit(r.index + 1L).as("mis_round")))
      val dominated = e
        .join(winners.withColumnRenamed("vtx", "a"), Seq("a"))
        .select(col("b").as("vtx")).distinct()
      active.join(winners.unionByName(dominated).distinct(),
        Seq("vtx"), "left_anti")
    }
    val activeCount = res.signatures.last.getLong(0)
    if (activeCount != 0L) {
      // budget exhausted with undecided vertices: emitting them as 0
      // ("dominated") would silently break maximality — use a distinct
      // sentinel and warn (the scc convention)
      System.err.println(s"[graft] lubyMis: $activeCount vertices " +
        s"still active after $maxRounds rounds — emitted as mis_round -1 " +
        s"(undecided, NOT dominated); raise maxRounds")
      result = result.unionByName(
        res.frame.select(col("vtx").as("vertex"), lit(-1L).as("mis_round")))
    }
    val verts = e.select(col("a").as("vertex")).distinct()
    verts.join(result, Seq("vertex"), "left")
      .select(col("vertex"), coalesce(col("mis_round"), lit(0L)).as("mis_round"))
  }
}
