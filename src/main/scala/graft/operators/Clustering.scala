package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Distributed spherical k-means (Lloyd) over an `array<float>` embedding
  * column, and SemDeDup-style semantic deduplication built on it.
  *
  * Scale posture (billions of vectors): the model state is k·dim doubles —
  * it lives on the driver and is folded into each iteration's plan as
  * literals, the classic MLlib shape. Per iteration the corpus is scanned
  * once: assignment is a narrow codegen'd projection (k native dot products
  * per row — NO join, NO shuffle), and the centroid update's only exchange
  * is the posexplode + groupBy(cell, dim) whose map-side partial
  * aggregation collapses n·dim element rows to partitions·k·dim before the
  * shuffle. Seeding is deterministic (k smallest md5(id) rows), sums are
  * order-insensitive decimals, and cosine ties break to the smallest cell
  * index, so a fit is bit-reproducible on any partitioning.
  */
object Clustering {

  /** 0-based cell index of the max-cosine centroid, as a pure per-row
    * expression: centroids are driver-side constants, so assignment is one
    * narrow projection — no join, no shuffle. Ties break to the smallest
    * index (struct max compares cosine first, then the negated index).
    * `nrm` is the row's precomputed L2 norm.
    *
    * Up to `literalMax` centroids the projection is k codegen'd literal dot
    * products; beyond that (large-k training — the IVFADC coarse-quantizer
    * regime) it switches to the embedded-array
    * [[org.apache.spark.sql.graftx.CosineArgmaxCell]] kernel, which keeps
    * the plan O(1) in k (the literal struct-max tree is linear in k —
    * Janino recompile + per-stage serialization blow up past a few hundred
    * cells). The two paths are bit-identical (same score shape, fold order,
    * SQL-ordering tie-breaks — spec-asserted at equal k).
    */
  def assignCell(vec: Column, nrm: Column, centroids: Seq[Seq[Double]],
      literalMax: Int = Pq.LiteralCellThreshold): Column =
    if (centroids.size <= literalMax) {
      val scored = centroids.zipWithIndex.map { case (cvec, j) =>
        // centroid norm is a driver constant; same left-fold + sqrt as the
        // executor-side recompute, so gate comparisons are bit-exact
        val cn = math.sqrt(cvec.map(x => x * x).sum)
        val safe = if (cn == 0.0) 1.0 else cn
        struct((dot(vec, typedlit(cvec)) / (nrm * lit(safe))).as("s"),
          lit(-j).as("nj"))
      }
      -array_max(array(scored: _*)).getField("nj")
    } else org.apache.spark.sql.graftx.PqExpressions
      .cosineArgmaxCell(vec, nrm, centroids)

  /** `df` plus a `cellCol` column assigning each row to its nearest (by
    * cosine) centroid. Narrow — adds zero exchanges to the plan.
    */
  def assign(df: DataFrame, vec: String, centroids: Seq[Seq[Double]],
      cellCol: String = "cell"): DataFrame =
    df.withColumn(cellCol, assignCell(col(vec), l2Norm(col(vec)), centroids))

  /** Lloyd iterations; returns the final centroids (≤ k × dim doubles —
    * fewer than k only when `df` has fewer than k rows). Seeding is
    * deterministic max-min (Gonzalez k-center): the first seed is the
    * smallest-md5(id) row, each next seed the row with the LOWEST best
    * cosine to any chosen seed (ties by id) — well-separated modes each get
    * a seed, which plain hash seeding does not guarantee.
    *
    * `seedSampleMod` is the cluster-scale knob for those seeding scans:
    * with s > 1 they run on the deterministic hash-sample
    * `xxhash64(id) % s == 0` (≈ n/s rows) instead of the full corpus — at
    * 100 TB, k sequential full scans before Lloyd even starts is the cost
    * this removes. Lloyd itself ALWAYS iterates the full corpus, so only
    * the k-center spread of the STARTING points is approximated; the
    * sample is a fixed deterministic subset, so fits stay bit-reproducible
    * on any partitioning. If the sample holds fewer than k rows the
    * seeding falls back to the full frame (deterministically — the count
    * is a function of the data).
    *
    * Convergence is max squared centroid movement under `tol` (computed on
    * the driver for free from the same collect), else `maxIter`. Empty
    * cells keep their previous centroid. The iterated (id, vec, norm)
    * projection is staged once with localCheckpoint so the seeding scans
    * and the Lloyd rounds don't re-read the source; at cluster scale stage
    * with persist(DISK_ONLY) instead.
    */
  def fit(df: DataFrame, id: String, vec: String, k: Int, maxIter: Int = 10,
      tol: Double = 1e-9, seedSampleMod: Long = 1): Seq[Seq[Double]] = {
    require(seedSampleMod >= 1, s"seedSampleMod must be >= 1, got $seedSampleMod")
    val base = df.select(col(id).cast("string").as("__id"), col(vec).as("__v"))
      .withColumn("__nrm", l2Norm(col("__v")))
      .localCheckpoint()
    // the k seeding scans iterate this tiny frame
    val sampled =
      if (seedSampleMod == 1L) None
      else Some(base
        .filter(pmod(xxhash64(col("__id")), lit(seedSampleMod)) === 0)
        .localCheckpoint())
    try {
      val seedBase = sampled.filter(_.count() >= k).getOrElse(base)
      def vecOf(r: org.apache.spark.sql.Row): Seq[Double] =
        r.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toSeq
      val first = seedBase.withColumn("__h", md5(col("__id")))
        .orderBy(col("__h"), col("__id"))
        .limit(1).select(col("__v"), col("__id")).collect()
      var centroids: Seq[Seq[Double]] = first.toSeq.map(vecOf)
      var chosen: Set[String] = first.map(_.getString(1)).toSet
      while (centroids.nonEmpty && centroids.size < k) {
        val bestCos = centroids.map { cvec =>
          val cn = math.sqrt(cvec.map(x => x * x).sum)
          val safe = if (cn == 0.0) 1.0 else cn
          dot(col("__v"), typedlit(cvec)) / (col("__nrm") * lit(safe))
        }
        val next = seedBase.filter(!col("__id").isInCollection(chosen))
          .orderBy(array_max(array(bestCos: _*)).asc, col("__id"))
          .limit(1).select(col("__v"), col("__id")).collect()
        if (next.isEmpty) // fewer rows than k: proceed with what exists
          return lloyd(base, centroids, maxIter, tol)
        centroids = centroids :+ vecOf(next(0))
        chosen = chosen + next(0).getString(1)
      }
      lloyd(base, centroids, maxIter, tol)
    } finally (sampled.toSeq :+ base).foreach(
      org.apache.spark.sql.graftx.CheckpointUtils.unpersistLocalCheckpoint)
  }

  private def lloyd(base: DataFrame, seeds: Seq[Seq[Double]], maxIter: Int,
      tol: Double): Seq[Seq[Double]] = {
    import graft.ops.Aggregations.sumStable
    if (seeds.isEmpty) return seeds // empty input frame
    var centroids = seeds
    val kk = centroids.size
    var iter = 0
    var moved = Double.MaxValue
    while (iter < maxIter && moved > tol) {
      // one corpus scan: narrow argmax-cosine assign, then per-(cell, dim)
      // decimal-exact sums — k·dim rows collected to the driver
      val sums = base
        .withColumn("__cell", assignCell(col("__v"), col("__nrm"), centroids))
        .select(col("__cell"), posexplode(col("__v")).as(Seq("__i", "__x")))
        .groupBy(col("__cell"), col("__i"))
        .agg(sumStable(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val dim = centroids.head.length
      val acc = Array.fill(kk)(new Array[Double](dim))
      val cnt = new Array[Long](kk)
      sums.foreach { r =>
        val c = r.getInt(0)
        acc(c)(r.getInt(1)) = r.getDouble(2)
        cnt(c) = r.getLong(3)
      }
      val next = centroids.indices.map { j =>
        if (cnt(j) == 0L) centroids(j)
        else acc(j).map(_ / cnt(j)).toSeq
      }
      moved = centroids.indices.map { j =>
        centroids(j).zip(next(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      }.max
      centroids = next
      iter += 1
    }
    centroids
  }

  /** Convenience: fit + assign in one call. */
  def kmeans(df: DataFrame, id: String, vec: String, k: Int,
      maxIter: Int = 10, cellCol: String = "cell"): DataFrame =
    assign(df, vec, fit(df, id, vec, k, maxIter), cellCol)

  /** k-means‖ seeding (Bahmani, Moseley, Vattani, Kumar, Vassilvitskii,
    * "Scalable k-means++", VLDB 2012) + Lloyd — the LARGE-k fit path.
    * [[fit]]'s Gonzalez seeding runs k sequential corpus scans (one per
    * seed), which is the training-side ceiling for coarse quantizers at
    * k ≈ 2¹⁵; this replaces them with `seedRounds` scans TOTAL (≈5),
    * independent of k:
    *
    *  - each round scans once, scoring every row's best cosine to the
    *    current candidate set through the embedded-array
    *    [[org.apache.spark.sql.graftx.CosineBestScore]] kernel (plan O(1)
    *    in |candidates|), and samples rows with probability
    *    min(1, ℓ·d²/φ) where d² = 1 − bestCos and φ = Σ d² — expected ℓ
    *    new candidates per round, landing preferentially in uncovered
    *    regions;
    *  - candidates are then weighted by one assignment scan (cluster
    *    sizes) and reduced to k seeds DRIVER-SIDE by greedy weighted
    *    farthest-first (first = heaviest, next = argmax weight·d² to the
    *    chosen — the deterministic stand-in for weighted k-means++'s
    *    random draw);
    *  - Lloyd then iterates the full corpus exactly as [[fit]] does.
    *
    * Fully deterministic on any partitioning: the per-row sampling
    * uniform is `xxhash64(id, round) / 2⁵³` (no RNG), candidate collection
    * is capped and ordered by (uniform, id), and every tie breaks by
    * index — a re-fit is bit-identical (spec-asserted).
    */
  def fitParallelSeed(df: DataFrame, id: String, vec: String, k: Int,
      maxIter: Int = 10, tol: Double = 1e-9, oversample: Int = 0,
      seedRounds: Int = 5): Seq[Seq[Double]] = {
    require(seedRounds >= 1, s"seedRounds must be >= 1, got $seedRounds")
    val ell = if (oversample > 0) oversample else math.max(1, 2 * k)
    val base = df.select(col(id).cast("string").as("__id"), col(vec).as("__v"))
      .withColumn("__nrm", l2Norm(col("__v")))
      .localCheckpoint()
    def vecOf(r: org.apache.spark.sql.Row): Seq[Double] =
      r.getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toSeq
    val first = base.withColumn("__h", md5(col("__id")))
      .orderBy(col("__h"), col("__id"))
      .limit(1).select(col("__v")).collect()
    if (first.isEmpty) return Seq.empty
    var cands: Vector[Seq[Double]] = Vector(vecOf(first(0)))
    val twoTo53 = 9007199254740992.0
    for (r <- 1 to seedRounds) {
      val bestCos = org.apache.spark.sql.graftx.PqExpressions
        .cosineBestScore(col("__v"), col("__nrm"), cands)
      val u = shiftrightunsigned(xxhash64(col("__id"), lit(r)), 11)
        .cast("double") / twoTo53
      // one computation, two actions: φ then the φ-dependent sample
      val scored = base
        .withColumn("__d2", greatest(lit(0.0), lit(1.0) - bestCos))
        .withColumn("__u", u)
        .localCheckpoint()
      val phi = scored.agg(sum(col("__d2"))).head().getDouble(0)
      if (phi > 0.0) {
        // u < min(1, ℓ·d²/φ) ⇔ u·φ < ℓ·d² (u < 1 covers the clamp);
        // capped + (u, id)-ordered so the collect stays bounded and
        // deterministic even under adversarial φ drift
        val sampled = scored
          .filter(col("__u") * phi < lit(ell.toDouble) * col("__d2"))
          .orderBy(col("__u"), col("__id"))
          .limit(10 * ell)
          .select(col("__v")).collect().map(vecOf)
        cands = cands ++ sampled
      }
      org.apache.spark.sql.graftx.CheckpointUtils
        .unpersistLocalCheckpoint(scored)
    }
    // weight candidates by assignment counts (one scan; missing = 0)
    val wRows = base
      .withColumn("__c", assignCell(col("__v"), col("__nrm"), cands))
      .groupBy(col("__c")).agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val weights = cands.indices.map(i => wRows.getOrElse(i, 0L)).toArray
    // driver-side greedy weighted farthest-first down to k
    def cosv(a: Seq[Double], b: Seq[Double]): Double = {
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      val sa = if (na == 0.0) 1.0 else na
      val sb = if (nb == 0.0) 1.0 else nb
      a.zip(b).map { case (x, y) => x * y }.sum / (sa * sb)
    }
    val chosen = scala.collection.mutable.ArrayBuffer[Int]()
    if (cands.nonEmpty) {
      chosen += weights.indices.maxBy(i => (weights(i), -i))
      while (chosen.size < math.min(k, cands.size)) {
        val next = cands.indices
          .filterNot(chosen.contains)
          .maxBy { i =>
            val d2 = 1.0 - chosen.map(j => cosv(cands(i), cands(j))).max
            (weights(i) * math.max(0.0, d2), -i)
          }
        chosen += next
      }
    }
    val seeds = chosen.toSeq.map(cands)
    val out = lloyd(base, seeds, maxIter, tol)
    org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(base)
    out
  }

  /** SemDeDup-style semantic deduplication (cluster-then-prune, after
    * Abbas et al. 2023, arXiv:2303.09540): k-means the corpus, then inside
    * each cluster mark every row that has a SMALLER-id neighbor with
    * cosine ≥ `tau` as pruned — the keep-first policy (same semantics as
    * the corpus line dedup): in a duplicate clique exactly the smallest id
    * survives, and membership is deterministic. Returns (id, cell,
    * pruned 0/1) for every input row.
    *
    * Scale: the pairwise work is confined within cells by an equi-join on
    * the cell id — k is the knob bounding expected cell size (the paper's
    * point: clustering makes near-quadratic dedup tractable by only
    * comparing semantic neighbors). Cross-cell near-dups at CELL BOUNDARIES
    * are the known blind spot; `probeMargin` > 0 closes it with the IVF
    * nProbe idea applied to dedup: a row also probes every cell whose
    * cosine is within `probeMargin` of its best cell, so two near-identical
    * vectors that straddle a Voronoi boundary still meet in at least one
    * shared probe cell (their cosines to every centroid differ by at most
    * ≈ their mutual angle, so a margin of that order guarantees the
    * overlap). Rows replicate only to boundary cells — interior rows
    * (the vast majority for small margins) keep exactly one copy, so the
    * pair work grows by the boundary fraction, not a multiple. The default
    * 0.0 keeps the original single-cell semantics (and the
    * `v_semdedup_check` gate) bit-unchanged.
    *
    * Fat-cell hardening: a skewed cell (k too small, or a degenerate
    * embedding mode) would re-create the n² problem on ONE reducer, so
    * every cell larger than `fatCellRows` is automatically sub-blocked
    * with the [[Similarity.cosineNearDupBlocked]] block-pair scheme,
    * applied within the cell: row → block `xxhash64(id) % G` with
    * G = ⌈cellRows / fatCellRows⌉, and the pair work runs in the equi-join
    * on (cell, blockA, blockB) — a fat cell's pairs spread over G(G+1)/2
    * reducers, each seeing ≤ ~2·fatCellRows input rows. Cells under the
    * threshold get G = 1, which degenerates to the plain cell equi-join
    * (same keys, same work — no penalty on the common path). Each
    * unordered pair still meets exactly once (same-block pairs ordered by
    * id, cross-block pairs by block orientation), and the pruned row is
    * the pair's larger id, so the keep-first semantics are unchanged.
    */
  def semDeDupLabels(df: DataFrame, id: String, vec: String, k: Int,
      tau: Double, maxIter: Int = 10, fatCellRows: Int = 100000,
      probeMargin: Double = 0.0): DataFrame = {
    require(fatCellRows >= 1, s"fatCellRows must be >= 1, got $fatCellRows")
    require(probeMargin >= 0.0, s"negative probeMargin: $probeMargin")
    val centroids = fit(df, id, vec, k, maxIter)
    // assignment + norm computed once, reused by both join sides
    val labeled = assign(df.select(col(id), col(vec)), vec, centroids, "cell")
      .withColumn("__nrm", l2Norm(col(vec)))
      .localCheckpoint()
    // the pair-generation stream: one row per (row, probed cell). With no
    // margin this IS the labeled frame (primary cell only — the original
    // path, bit-unchanged); with a margin each row replicates to every
    // cell scoring within probeMargin of its best (primary included)
    val probed =
      if (probeMargin == 0.0)
        labeled.select(col(id), col(vec), col("__nrm"), col("cell"))
      else {
        val scored = array(centroids.zipWithIndex.map { case (cvec, j) =>
          val cn = math.sqrt(cvec.map(x => x * x).sum)
          val safe = if (cn == 0.0) 1.0 else cn
          struct((dot(col(vec), typedlit(cvec)) / (col("__nrm") * lit(safe)))
            .as("s"), lit(j).as("j"))
        }: _*)
        labeled
          .withColumn("__scored", scored)
          .withColumn("__best", array_max(col("__scored")).getField("s"))
          .select(col(id), col(vec), col("__nrm"),
            explode(filter(col("__scored"),
              c => c.getField("s") >= col("__best") - lit(probeMargin))
              .getField("j")).as("cell"))
      }
    // per-cell block count G over the PROBED stream (≤ k rows — broadcast)
    val gOf = probed.groupBy(col("cell"))
      .agg(ceil(count(lit(1)).cast("double") / fatCellRows).cast("int")
        .as("__nblk")) // NOT "__G": column resolution is case-insensitive,
      // and a name differing from "__g" only by case silently aliases it
    val withG = probed.join(broadcast(gOf), Seq("cell"))
      .withColumn("__g", pmod(xxhash64(col(id)), col("__nblk")).cast("int"))
    val a = withG.select(col("cell"), col("__g").as("__i"),
      explode(sequence(col("__g"), col("__nblk") - 1)).as("__j"),
      col(id).as("__ida"), col(vec).as("__va"), col("__nrm").as("__na"))
    val b = withG.select(col("cell"),
      explode(sequence(lit(0), col("__g"))).as("__i"),
      col("__g").as("__j"),
      col(id).as("__idb"), col(vec).as("__vb"), col("__nrm").as("__nb"))
    val pruned = a.join(b, Seq("cell", "__i", "__j"))
      // same-block pairs meet twice (both orientations) — keep one; cross-
      // block pairs meet exactly once in either orientation — keep it.
      // (With probing a pair can additionally meet once per SHARED probe
      // cell; the terminal distinct() collapses those.)
      .filter(col("__i") =!= col("__j") || col("__ida") < col("__idb"))
      .filter(cosineWithNorms(col("__va"), col("__vb"),
        col("__na"), col("__nb")) >= tau)
      // the pair's larger id is the one with a smaller-id near-neighbor
      .select(greatest(col("__ida"), col("__idb")).as(id))
      .distinct()
    labeled.select(col(id), col("cell"))
      .join(pruned.withColumn("__p", lit(1)), Seq(id), "left")
      .select(col(id), col("cell"), coalesce(col("__p"), lit(0)).as("pruned"))
  }
}
