package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.operators.{Clustering, Graph, Opq, Pq, Similarity}

/** Round-based operators: vector index training and search, and graph
  * fixpoints. Every call here is a loop of materialise, observe, release;
  * no other workload reaches these operators.
  *
  * One operation is one round of: k-means, residual PQ and OPQ training
  * (the index build), `batches` IVF-ADC query batches, then HyperANF, SCC
  * and PageRank over the generated graph. Rounds run back to back from one
  * thread (closed loop, one client).
  */
object IterativeOps extends Workload {
  val name = "iterative_ops"

  final case class Params(vectors: Int, dim: Int, centers: Int, noise: Double,
      queries: Int, batches: Int, cells: Int, pqM: Int, pqK: Int,
      lloydIters: Int, pqIters: Int, opqAlternations: Int, nProbe: Int,
      topK: Int, vertices: Int, planted: Int, sccMin: Int, sccMax: Int,
      degAlpha: Double, maxDeg: Int, sources: Int, depth: Int, prIters: Int)

  val full = Params(vectors = 4000, dim = 8, centers = 24, noise = 0.25,
    queries = 48, batches = 1, cells = 16, pqM = 4, pqK = 16, lloydIters = 2,
    pqIters = 1, opqAlternations = 1, nProbe = 4, topK = 10,
    vertices = 3000, planted = 30, sccMin = 3, sccMax = 4,
    degAlpha = 1.6, maxDeg = 60, sources = 64, depth = 2, prIters = 2)


  /** Recall@k floor of IVF-ADC against exact cosine top-k. */
  val RecallFloor = 0.5

  /** Ceiling of the OPQ model's quantization error Σ‖y − ŷ‖² as a share
    * of the corpus's energy about its mean Σ‖x − mean‖².
    */
  val OpqErrorCeiling = 0.15

  /** The generator's vectors and edges are kept in plain Scala as well,
    * so the checks can recompute results without the engine.
    */
  final case class Input(p: Params, corpus: DataFrame,
      queryBatches: Seq[DataFrame], edges: DataFrame, sources: DataFrame,
      exactTopK: Map[Long, Set[Long]], sccOf: Map[Long, Long], plantedSccs: Int,
      vectors: Seq[Array[Double]], edgeList: Seq[(Long, Long)])

  /** The last round's outputs, checked after the run. */
  final case class Outputs(hits: Seq[Row], opq: Opq.Model, anf: Seq[Row],
      scc: Seq[Row], ranks: Seq[Row])

  private var input: Input = _
  private var last: Option[Outputs] = None

  /** The warm-up's input: smaller, with the same iteration counts, so it
    * runs the same plans.
    */
  val warm = full.copy(vectors = 1000, queries = 16, vertices = 800,
    planted = 8, sources = 16)

  def warmup(env: Env): Unit = {
    val in = make(env, warm, env.seed ^ 0x5eedL, "warmup")
    round(env, in, new Outcome, traced = false)
  }

  def generate(env: Env): Unit = input = make(env, full, env.seed, "input")

  def run(env: Env, out: Outcome): Unit = {
    // a round takes longer than 10 s, so an untraced run at --seconds 10
    // makes one; a traced run makes at least two, one untraced and one
    // traced
    val minRounds = if (env.tracer.enabled) 2 else 1
    val t0 = System.nanoTime
    var i = 0
    while (i < minRounds || (System.nanoTime - t0) / 1e9 < env.seconds) {
      round(env, input, out, traced = env.tracer.enabled && i % 2 == 1)
      env.sampleHeap()
      i += 1
    }
    val p = input.p
    val index = out.series("index_build_s")
    val search = out.series("search_s")
    val graph = out.series("graph_s")
    out.opCpuS = Stats.median(out.series("round_cpu_s"))
    out.workPerCpuS = p.vectors / Stats.median(out.series("index_build_cpu_s"))
    out.report ++= Seq(
      "round_s" -> Stats.summary(out.opWalls.map(_._2).toSeq),
      "round_cpu_s" -> Stats.summary(out.series("round_cpu_s")),
      "index_build_s" -> Stats.summary(index),
      "index_build_cpu_s" -> Stats.summary(out.series("index_build_cpu_s")),
      "indexed_vectors_per_s" -> p.vectors / Stats.median(index),
      "indexed_vectors_per_cpu_s" -> out.workPerCpuS,
      "search_p50_s" -> Stats.summary(search),
      "query_vectors_per_s" -> p.queries / Stats.median(search),
      "graph_s" -> Stats.summary(graph),
      "rounds" -> i)
  }

  /** One round: index build, query batches, graph; walls go to `out`. */
  private def round(env: Env, in: Input, out: Outcome, traced: Boolean): Unit =
    env.tracer.tracing(traced)(roundBody(env, in, out, traced))

  private def roundBody(env: Env, in: Input, out: Outcome, traced: Boolean): Unit = {
    val t = env.tracer
    val p = in.p
    val opStart = System.nanoTime
    val c0 = env.cpuS
    var coarse: Seq[Seq[Double]] = Nil
    var books: Seq[Seq[Seq[Double]]] = Nil
    var opq: Opq.Model = null
    out.attempt("index_build") {
      t.call("operators.kmeans_fit") {
        coarse = Clustering.fit(in.corpus, "id", "vec", p.cells,
          maxIter = p.lloydIters)
      }
      t.call("operators.pq_train") {
        books = Pq.trainResidualCodebooks(in.corpus, "id", "vec", coarse,
          p.pqM, p.pqK, maxIter = p.pqIters)
      }
      opq = t.call("operators.opq_fit") {
        Opq.fit(in.corpus, "id", "vec", p.pqM, p.pqK,
          alternations = p.opqAlternations, initIters = 1)
      }
    }.foreach { w =>
      out.add("index_build_s", w)
      out.add("index_build_cpu_s", env.cpuS - c0)
    }
    val hits = in.queryBatches.flatMap { q =>
      var rows: Seq[Row] = Nil
      out.attempt("ivf_search") {
        rows = t.call("operators.ivf_search") {
          Pq.ivfAdcTopK(in.corpus, q, "id", "vec", coarse, books, p.topK,
            p.nProbe).select("query_id", "neighbor_id").collect().toSeq
        }
      }.foreach(out.add("search_s", _))
      rows
    }
    var anf: Seq[Row] = Nil
    var scc: Seq[Row] = Nil
    var ranks: Seq[Row] = Nil
    out.attempt("graph") {
      anf = t.call("operators.hyperanf") {
        Graph.hyperAnf(in.edges, "src", "dst", in.sources, "v",
          maxDepth = p.depth).collect().toSeq
      }
      scc = t.call("operators.scc") {
        Graph.stronglyConnectedComponents(in.edges, "src", "dst")
          .collect().toSeq
      }
      ranks = t.call("operators.pagerank") {
        Graph.pageRankInt(in.edges, "src", "dst", iters = p.prIters)
          .collect().toSeq
      }
    }.foreach(out.add("graph_s", _))
    out.op("round", (System.nanoTime - opStart) / 1e9, traced)
    out.add("round_cpu_s", env.cpuS - c0)
    last = Some(Outputs(hits, opq, anf, scc, ranks))
  }

  def check(env: Env, out: Outcome): Unit = {
    val spark = env.spark
    val p = input.p
    val Outputs(hits, opq, anf, scc, ranks) = last.get
    // exact cosine top-k from the engine, held against the generator's own
    val brute = input.queryBatches.flatMap(q =>
      Similarity.bruteForceTopK(input.corpus, q, "id", "vec", p.topK)
        .select("query_id", "neighbor_id").collect().toSeq)
    val bruteK = topSets(brute)
    out.check("bruteForceTopK matches the generator's exact top-k",
      recall(bruteK, input.exactTopK) >= 0.99)
    val r = recall(topSets(hits), bruteK)
    out.report("recall_at_k") = r
    out.check(s"IVF-ADC recall@${p.topK} $r >= $RecallFloor", r >= RecallFloor)
    val got = scc.map(row => row.getLong(0) -> row.getLong(1)).toMap
    val nontrivial = got.groupBy(_._2).count(_._2.size > 1)
    out.report("scc_nontrivial") = nontrivial
    out.check(s"SCC count $nontrivial == planted ${input.plantedSccs}",
      nontrivial == input.plantedSccs)
    out.check("SCC labels equal the planted components",
      got == input.sccOf)
    val exact = Graph.multiSourceDistances(input.edges, "src", "dst",
        input.sources, "v", maxDepth = p.depth)
      .groupBy("dist").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tol = 3 * 1.04 / math.sqrt(512.0) // lgK = 9: three standard errors
    anf.foreach { row =>
      val h = row.getAs[Number]("h").longValue
      val est = row.getAs[Number]("est").doubleValue
      val want = exact.filter(_._1 <= h).values.sum.toDouble
      out.check(s"HyperANF N($h) = $est within $tol of exact $want",
        math.abs(est - want) <= tol * want)
    }
    checkOpq(out, opq)
    val want = pageRank(input.edgeList, p.prIters)
    val gotRanks = ranks.map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.check(s"PageRank after ${p.prIters} rounds equals a plain-Scala " +
      "run of the same fixed-point recurrence", gotRanks == want)
    spark.catalog.clearCache()
  }

  /** The OPQ model against plain Scala over the generator's vectors: its
    * mean is the corpus mean, its rotation is orthonormal, it records one
    * distortion per alternation plus the initial one, the last of them is
    * the distortion its codebooks give, and that error is a small share of
    * the corpus's energy.
    */
  private def checkOpq(out: Outcome, m: Opq.Model): Unit = {
    val p = input.p
    val xs = input.vectors
    val n = xs.size.toDouble
    val mean = Array.tabulate(p.dim)(j => xs.map(_(j)).sum / n)
    // the engine sums moments in 1e-8 units
    out.check("OPQ mean is the corpus mean",
      mean.indices.forall(j => math.abs(m.mean(j) - mean(j)) <= 1e-7))
    val r = m.rotation
    out.check("OPQ rotation is orthonormal",
      r.length == p.dim && r.indices.forall(i => r.indices.forall { j =>
        val dot = r(i).indices.map(c => r(i)(c) * r(j)(c)).sum
        math.abs(dot - (if (i == j) 1.0 else 0.0)) <= 1e-6
      }))
    out.check(s"OPQ records ${p.opqAlternations + 1} distortions, " +
      "non-increasing", m.distortions.size == p.opqAlternations + 1 &&
      m.distortions.zip(m.distortions.drop(1)).forall { case (a, b) => b <= a })
    val sub = p.dim / p.pqM
    var energy, err = 0.0
    xs.foreach { x =>
      val c = x.indices.map(j => x(j) - m.mean(j))
      energy += c.map(v => v * v).sum
      val y = r.map(row => row.indices.map(j => row(j) * c(j)).sum)
      m.codebooks.zipWithIndex.foreach { case (book, s) =>
        err += book.map(w => w.indices.map { j =>
          val d = y(s * sub + j) - w(j); d * d }.sum).min
      }
    }
    out.report("opq_error_share") = err / energy
    out.check(s"OPQ distortion ${m.distortions.last} is its codebooks' " +
      s"error $err", math.abs(m.distortions.last - err) <= 1e-6 * err)
    out.check(s"OPQ error share ${err / energy} <= $OpqErrorCeiling",
      err / energy <= OpqErrorCeiling)
  }

  /** `Graph.pageRankInt`'s recurrence in plain Scala, over the same
    * distinct edges: every vertex starts at `scale`; each round,
    * r(v) = 15·scale/100 + 85·Σ_{(u,v)} (r(u) / deg(u)) / 100, in
    * truncating integer arithmetic.
    */
  private def pageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Map[Long, Long] = {
    val deg = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var r = verts.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / deg(u) }.sum }
      r = verts.map(v => v -> (15L * scale / 100 + 85L * in.getOrElse(v, 0L) / 100))
        .toMap
    }
    r
  }

  private def topSets(rows: Seq[Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getAs[Number](0).longValue)
      .map { case (q, rs) => q -> rs.map(_.getAs[Number](1).longValue).toSet }

  /** Mean share of the reference's neighbours that `got` found. */
  private def recall(got: Map[Long, Set[Long]], ref: Map[Long, Set[Long]]): Double =
    if (ref.isEmpty) 0.0
    else ref.map { case (q, want) =>
      (got.getOrElse(q, Set.empty) intersect want).size.toDouble / want.size
    }.sum / ref.size

  // ---------------------------------------------------------------------
  // Generator. Plain Scala from the seed; the engine only sees the files.

  /** Fisher-Yates from the seeded stream. */
  private def shuffle[A](rnd: SplittableRandom, xs: Seq[A]): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq.map(_.asInstanceOf[A])
  }

  private def make(env: Env, p: Params, seed: Long, tag: String): Input = {
    val spark = env.spark
    import spark.implicits._
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def gauss(): Double = {
      // Box-Muller from the seeded stream
      val u1 = 1.0 - rnd.nextDouble()
      val u2 = rnd.nextDouble()
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    val centers = Array.fill(p.centers)(unit(Array.fill(p.dim)(gauss())))
    def point(): Array[Double] = {
      val c = centers(rnd.nextInt(p.centers))
      unit(c.map(_ + p.noise * gauss()))
    }
    val vecs = (0 until p.vectors).map(i => (i.toLong, point()))
    val qs = (0 until p.queries * p.batches)
      .map(i => (1000000000L + i, point()))
    val exact = qs.map { case (q, qv) =>
      q -> vecs.map { case (id, v) =>
        (id, qv.indices.map(j => qv(j) * v(j)).sum)
      }.sortBy(x => (-x._2, x._1)).take(p.topK).map(_._1).toSet
    }.toMap

    // Power-law DAG (edges only go to higher ids, targets chosen by
    // preferential attachment) with planted cycles on disjoint id ranges:
    // the cycles are the only non-trivial SCCs. Cycle sizes and the
    // out-degree sequence are the same for every seed (the seed only places
    // and wires them), so the operators' round counts do not vary by seed.
    val sizes = Array.tabulate(p.planted)(i => p.sccMin + i % (p.sccMax - p.sccMin + 1))
    val slots = Array.fill(p.planted)(rnd.nextInt(p.vertices - sizes.sum)).sorted
    val ranges = slots.indices.map(i => (slots(i) + sizes.take(i).sum, sizes(i)))
    val edges = mutable.LinkedHashSet[(Long, Long)]()
    ranges.foreach { case (a, s) =>
      (0 until s).foreach(j => edges += ((a + j).toLong -> (a + (j + 1) % s).toLong))
    }
    val degrees = shuffle(rnd, (0 until p.vertices).map { k =>
      // Pareto(degAlpha) quantile at evenly spaced levels
      math.min(p.maxDeg,
        math.floor(math.pow(1.0 - (k + 0.5) / p.vertices, -1.0 / p.degAlpha)).toInt)
    })
    val pool = mutable.ArrayBuffer[Int]()
    for (u <- (p.vertices - 1) to 0 by -1) {
      if (pool.nonEmpty) {
        (0 until degrees(u)).foreach { _ =>
          val t = pool(rnd.nextInt(pool.size))
          edges += (u.toLong -> t.toLong)
          pool += t
        }
      }
      pool += u
    }
    val seen = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    val inRange = ranges.flatMap { case (a, s) =>
      (a until a + s).map(v => v.toLong -> a.toLong) }.toMap
    val sccOf = seen.map(v => v -> inRange.getOrElse(v, v)).toMap
    val srcs = shuffle(rnd, seen.toSeq.sorted).take(p.sources)

    def park(df: DataFrame, leaf: String): DataFrame = {
      val path = env.path(s"$tag/$leaf")
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    Input(p,
      park(vecs.toDF("id", "vec"), "vectors"),
      qs.grouped(p.queries).zipWithIndex.map { case (b, i) =>
        park(b.toDF("id", "vec"), s"queries_$i") }.toSeq,
      park(edges.toSeq.toDF("src", "dst"), "edges"),
      park(srcs.toDF("v"), "sources"),
      exact, sccOf, p.planted, vecs.map(_._2), edges.toSeq)
  }
}
