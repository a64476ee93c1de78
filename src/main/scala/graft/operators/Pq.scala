package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** Product quantization for approximate nearest-neighbor search (Jégou,
  * Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011): split each D-dim vector into `m` subvectors, k-means each
  * subspace to `k` centroids, and represent every vector by its `m`
  * per-subspace centroid indices — D floats compress to `m` small ints,
  * and asymmetric distance computation (ADC) scores a (query, vector)
  * pair with `m` table lookups instead of D multiplies.
  *
  * Scale posture (billions of vectors): codebooks are `m·k·(D/m) = k·D`
  * doubles of driver-side model state folded into plans as literals (the
  * [[Clustering]] shape). Training scans the corpus ONCE per Lloyd round —
  * all `m` subspaces fit in the same pass (assign all subspaces in one
  * narrow projection, then a per-(subspace, cell, dim) partial-sum shuffle
  * of k·D accumulator rows). Encoding is a zero-shuffle projection; the
  * encoded corpus is 1-2 bytes per subspace per row — the representation
  * you can afford to keep hot for rescoring candidate sets at 100 TB.
  * ADC search broadcasts the query side (each query carrying its m×k
  * distance table, built once per query from the literal codebooks) and
  * streams the encoded corpus once; the only exchange is the final
  * per-query top-k reduction.
  *
  * Everything is deterministic: hash seeding (k smallest md5(id) rows),
  * decimal-exact centroid sums, and argmin ties broken to the smallest
  * centroid index — a re-fit on any partitioning is bit-identical.
  */
object Pq {

  /** The full code array (one int per subspace) as a narrow projection —
    * the native [[org.apache.spark.sql.graftx.PqCodes]] kernel: the
    * Column-DSL equivalent (array_min over m·k dot-product structs) is a
    * literal tree Janino must recompile per plan, which dominated the
    * train loop; the kernel is one codegen'd call around a tight loop.
    * Argmin scores the partial distance ‖c‖² − 2·v_m·c (the ‖v_m‖² term is
    * constant across centroids), ties to the smallest index, op order
    * matching the broadcast-DataFrame recompute gate bit-for-bit.
    */
  def codesExpr(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    org.apache.spark.sql.graftx.PqExpressions.pqCodes(vec, codebooks)

  /** Train per-subspace L2 codebooks: `m` subspaces × `k` centroids each.
    * Seeds are the k smallest-md5(id) rows' subvectors (deterministic on
    * any partitioning); with `seedSampleMod` = s > 1 the seed scan runs on
    * the deterministic hash-sample `xxhash64(id) % s == 0` (the
    * [[Clustering.fit]] knob — same fallback to the full frame when the
    * sample holds under k rows; Lloyd always scans the full corpus). Each
    * Lloyd round is ONE corpus scan — all subspaces assigned in the same
    * projection, partial sums shuffled as k·D narrow accumulator rows.
    * Empty cells keep their previous centroid. Returns
    * codebooks[m][cell][dim].
    */
  def trainCodebooks(df: DataFrame, id: String, vec: String, m: Int, k: Int,
      maxIter: Int = 5, seedSampleMod: Long = 1): Seq[Seq[Seq[Double]]] = {
    import graft.ops.Aggregations.sumStable
    require(seedSampleMod >= 1, s"seedSampleMod must be >= 1, got $seedSampleMod")
    val base = df.select(col(id).cast("string").as("__id"),
        col(vec).cast("array<double>").as("__v"))
      .localCheckpoint()
    try {
      val dim = base.select(size(col("__v"))).head().getInt(0)
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val sub = dim / m
      val seedBase =
        if (seedSampleMod == 1L) base
        else {
          val sampled = base
            .filter(pmod(xxhash64(col("__id")), lit(seedSampleMod)) === 0)
          if (sampled.count() < k) base else sampled
        }
      val seedRows = seedBase.withColumn("__h", md5(col("__id")))
        .orderBy(col("__h"), col("__id"))
        .limit(k).select(col("__v")).collect()
        .map(_.getSeq[Double](0).toSeq)
      val books: Seq[Seq[Seq[Double]]] = (0 until m).map(mi =>
        seedRows.toSeq.map(v => v.slice(mi * sub, mi * sub + sub)))
      lloydRounds(base, books, m, sub, maxIter)
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(base)
  }

  /** Continue Lloyd from GIVEN codebooks — the warm restart OPQ's
    * alternations need (re-seeding each alternation would discard the
    * coupled rotation/codebook state and break the monotone-distortion
    * guarantee). Same single-scan round shape as [[trainCodebooks]].
    */
  def refineCodebooks(df: DataFrame, id: String, vec: String,
      books: Seq[Seq[Seq[Double]]], maxIter: Int): Seq[Seq[Seq[Double]]] = {
    val base = df.select(col(id).cast("string").as("__id"),
        col(vec).cast("array<double>").as("__v"))
      .localCheckpoint()
    try lloydRounds(base, books, books.size, books.head.head.size, maxIter)
    finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(base)
  }

  private def lloydRounds(base: DataFrame, init: Seq[Seq[Seq[Double]]],
      m: Int, sub: Int, maxIter: Int): Seq[Seq[Seq[Double]]] = {
    import graft.ops.Aggregations.sumStable
    val k = init.head.size
    var books = init
    for (_ <- 1 to maxIter) {
      // stage the assignment BEFORE the posexplode: CollapseProject would
      // otherwise inline the m·k-dot code expression into every exploded
      // dim row — a D× recompute (measured 7× on the train loop)
      val staged = base
        .select(col("__v"), codesExpr(col("__v"), books).as("__codes"))
        .localCheckpoint()
      val sums = staged
        .select(col("__codes"), posexplode(col("__v")).as(Seq("__i", "__x")))
        .select(expr(s"CAST(__i div $sub AS INT)").as("__m"),
          expr(s"__codes[__i div $sub]").as("__cell"),
          expr(s"__i % $sub").as("__d"),
          col("__x"))
        .groupBy(col("__m"), col("__cell"), col("__d"))
        .agg(sumStable(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      org.apache.spark.sql.graftx.CheckpointUtils
        .unpersistLocalCheckpoint(staged)
      val acc = Array.fill(m)(Array.fill(k)(new Array[Double](sub)))
      val cnt = Array.fill(m)(new Array[Long](k))
      sums.foreach { r =>
        val (mi, c, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
        acc(mi)(c)(d) = r.getDouble(3)
        cnt(mi)(c) = r.getLong(4)
      }
      books = books.zipWithIndex.map { case (cb, mi) =>
        cb.zipWithIndex.map { case (prev, c) =>
          if (cnt(mi)(c) == 0L) prev
          else acc(mi)(c).map(_ / cnt(mi)(c)).toSeq
        }
      }
    }
    books
  }

  /** Corpus + an `array<int>` PQ code column — a zero-shuffle projection. */
  def encode(df: DataFrame, vec: String, codebooks: Seq[Seq[Seq[Double]]],
      codeCol: String = "pq_code"): DataFrame =
    df.withColumn(codeCol,
      codesExpr(col(vec).cast("array<double>"), codebooks))

  /** ADC top-k: for each query row, the `k` corpus rows with the smallest
    * asymmetric PQ distance Σ_m ‖q_m − c_m,code_m‖². Each query builds its
    * m×k distance table ONCE as a narrow projection over the literal
    * codebooks, the query side broadcasts, the encoded corpus streams once,
    * and per pair the score is `m` array lookups folded in subspace order
    * (a deterministic left fold — rescoring the same pair anywhere gives
    * the same double). Ties break to the smaller neighbor id. The final
    * reduction is the bounded k-heap aggregate ([[TopK.perKey]]): partial
    * heaps fold map-side, so the only exchange carries ≤ partitions·k pairs
    * per query — never the full scored corpus.
    *
    * Output: (query_id, neighbor_id, adc_dist, rank).
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
      codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    val m = codebooks.size
    val c = encode(corpus, vec, codebooks, "__code")
      .select(col(id).as("neighbor_id"), col("__code"))
    // per-query m×k table of full squared L2 sub-distances, built once per
    // query row by the native kernel (entry shape (q·q − 2·q·c) + ‖c‖²)
    val q = queries.select(col(id).as("query_id"),
      org.apache.spark.sql.graftx.PqExpressions
        .pqDistTable(col(vec).cast("array<double>"), codebooks).as("__tbl"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        // unrolled left-assoc sum — plain element_at chains stay inside
        // whole-stage codegen where the equivalent `aggregate` HOF is a
        // CodegenFallback (measured ~40% of search time); same add order,
        // so the re-fold gate's bit-equality contract is unchanged
        (0 until m).map(i => expr(s"__tbl[$i][__code[$i]]"))
          .reduce(_ + _))
    TopK.perKey(scored, "query_id", "adc_dist", "neighbor_id", k,
      descending = false)
  }

  // ---------------------------------------------------------------------
  // IVFADC (Jégou et al. §IV): coarse inverted lists over PQ-coded
  // RESIDUALS — the billion-vector composition of the two pieces above.
  // The coarse quantizer (any centroid list; [[Clustering.fit]] is the
  // in-repo source) splits the corpus into cells; each vector stores only
  // its cell id and the PQ code of (v − centroid(cell)); a query probes its
  // `nProbe` closest cells and ADC-scores ONLY those cells' codes, with a
  // per-(query, cell) distance table built from the query's residual
  // against that cell. Fanout drops by ~|cells|/nProbe while residual
  // coding keeps quantization error far below raw-vector PQ at equal bits.
  // ---------------------------------------------------------------------

  /** Above this coarse-cell count the probe/residual paths switch from
    * plan-LITERAL centroids (C struct expressions / a C·dim `typedlit`) to
    * the embedded-array kernels ([[org.apache.spark.sql.graftx.CoarseProbe]]
    * etc.): the literal plan tree is linear in C — Janino recompiles it per
    * plan and the driver serializes it per stage — which caps C at a few
    * hundred, while the kernels keep the plan O(1) and ship the centroid
    * table once per stage inside the broadcast task binary (the same
    * transport [[codesExpr]] has always used for the codebooks). Both paths
    * are bit-identical by construction (same score shape, fold order, and
    * SQL-ordering tie-breaks — spec-asserted at equal C), so the switch is
    * purely mechanical.
    */
  val LiteralCellThreshold: Int = 256

  /** 0-based L2-argmin cell id for a full vector against the literal coarse
    * centroids — the [[codesExpr]] kernel with one "subspace" spanning the
    * whole dimension (the partial score ‖c‖² − 2·v·c has the same argmin as
    * full L2; ties to the smallest cell index). Already an embedded-array
    * kernel — safe at any C.
    */
  def coarseCellExpr(vec: Column, coarse: Seq[Seq[Double]]): Column =
    element_at(codesExpr(vec, Seq(coarse)), 1)

  /** `df` plus the coarse cell id and the residual v − centroid(cell), as
    * one zero-shuffle projection (centroids are driver-side model state —
    * plan literals up to `literalMax` cells, embedded-kernel beyond).
    */
  def withResidual(df: DataFrame, vec: String, coarse: Seq[Seq[Double]],
      cellCol: String = "__cell", resCol: String = "__res",
      literalMax: Int = LiteralCellThreshold): DataFrame = {
    val vd = col(vec).cast("array<double>")
    val withCell = df.withColumn(cellCol, coarseCellExpr(vd, coarse))
    if (coarse.size <= literalMax)
      withCell.withColumn(resCol,
        zip_with(vd, element_at(typedlit(coarse), col(cellCol) + 1),
          (a, b) => a - b))
    else
      withCell.withColumn(resCol, org.apache.spark.sql.graftx.PqExpressions
        .coarseResidual(vd, col(cellCol).cast("int"), coarse))
  }

  /** PQ codebooks trained on coarse-cell RESIDUALS — same single-scan Lloyd
    * as [[trainCodebooks]], over the residual projection.
    */
  def trainResidualCodebooks(df: DataFrame, id: String, vec: String,
      coarse: Seq[Seq[Double]], m: Int, k: Int, maxIter: Int = 5,
      seedSampleMod: Long = 1): Seq[Seq[Seq[Double]]] =
    trainCodebooks(withResidual(df, vec, coarse), id, "__res", m, k, maxIter,
      seedSampleMod)

  /** IVFADC search: probe the `nProbe` L2-closest coarse cells per query,
    * ADC-score only those cells' residual codes, reduce with the bounded
    * k-heap. The probe side is |Q|·nProbe rows (each carrying its m×k
    * residual distance table) and BROADCASTS; the encoded corpus streams
    * once through an EQUI-join on the cell id — no full-corpus ADC scan,
    * no non-equi join, and the final exchange is ≤ partitions·k pairs per
    * query. Cell-probe scoring uses the same ‖c‖² − 2·q·c shape and fold
    * order as [[codesExpr]], so gate recomputes are bit-exact.
    *
    * Output: (query_id, neighbor_id, adc_dist, rank) — adc_dist
    * approximates ‖q − v‖² via the residual tables.
    */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      k: Int, nProbe: Int,
      literalMax: Int = LiteralCellThreshold): DataFrame =
    ivfAdcTopKIndexed(
      encodeIndex(corpus, id, vec, coarse, codebooks, literalMax),
      queries, id, vec, coarse, codebooks, k, nProbe, literalMax)

  /** The persisted-index representation: (neighbor_id, cell, code) — a
    * zero-shuffle encoding projection. This is the table a production
    * deployment maintains INCREMENTALLY: encoding is per-row against
    * frozen model state, so appending a new batch's encodings equals
    * re-encoding the union from scratch (spec-asserted), and the 100 TB
    * corpus is never re-encoded when data arrives.
    */
  def encodeIndex(corpus: DataFrame, id: String, vec: String,
      coarse: Seq[Seq[Double]],
      codebooks: Seq[Seq[Seq[Double]]],
      literalMax: Int = LiteralCellThreshold): DataFrame =
    withResidual(corpus, vec, coarse, literalMax = literalMax)
      .select(col(id).as("neighbor_id"), col("__cell").as("cell"),
        codesExpr(col("__res"), codebooks).as("code"))

  /** Write the encoded index hive-partitioned BY CELL: a later search that
    * probes `nProbe` of `C` cells dynamically prunes to nProbe/C of the
    * index files (the probe side broadcasts, so Spark plans dynamic
    * partition pruning on the cell equi-join — PlanSpec-asserted).
    */
  def writeIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Right-to-be-forgotten erasure of a persisted ([[writeIndex]]) IVFADC
    * index: the erased vectors' CELLS are recomputed from the frozen coarse
    * model (encoding is deterministic per-row, the same property that makes
    * the index incrementally appendable), so only those cell partitions are
    * read, anti-joined, and dynamically overwritten — cost bounded by the
    * subject's cell footprint, never the index. Cells the erasure empties
    * are dropped explicitly (dynamic overwrite only replaces partitions
    * PRESENT in the written frame). Spec-proven: the erased index
    * hash-matches [[encodeIndex]] rebuilt from scratch on the retained
    * corpus, and searches over it equal searches over the rebuild.
    *
    * `erased` carries the subject rows' (id, vector) — the vector is what
    * localizes the cell without scanning the index.
    */
  def eraseFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, erased: DataFrame, id: String, vec: String,
      coarse: Seq[Seq[Double]],
      literalMax: Int = LiteralCellThreshold): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val keyed = withResidual(erased, vec, coarse, literalMax = literalMax)
      .select(col(id).as("neighbor_id"), col("__cell").as("cell"))
      .distinct().localCheckpoint()
    try {
      // the subject's cell footprint: bounded driver state (≤ |erased|)
      val cells = keyed.select(col("cell")).distinct()
        .collect().map(_.getInt(0)).toSeq
      if (cells.isEmpty) return
      val retained = spark.read.parquet(indexPath)
        .filter(col("cell").isin(cells: _*))
        .join(broadcast(keyed.select(col("neighbor_id"))),
          Seq("neighbor_id"), "left_anti")
        .localCheckpoint() // staged: it reads the path it replaces
      try {
        retained.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(indexPath)
        val still = retained.select(col("cell")).distinct()
          .collect().map(_.getInt(0)).toSet
        graft.io.Sinks.deletePartitionDirs(spark, indexPath,
          cells.filterNot(still).map(c => s"cell=$c"))
      } finally org.apache.spark.sql.graftx.CheckpointUtils
        .unpersistLocalCheckpoint(retained)
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(keyed)
  }

  /** [[ivfAdcTopK]] against a pre-encoded (possibly disk-resident) index —
    * bit-identical results by construction: the raw-corpus entry point
    * delegates here after encoding.
    */
  def ivfAdcTopKIndexed(index: DataFrame, queries: DataFrame, id: String,
      vec: String, coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      k: Int, nProbe: Int,
      literalMax: Int = LiteralCellThreshold): DataFrame = {
    require(nProbe >= 1 && nProbe <= coarse.size,
      s"nProbe $nProbe out of range for ${coarse.size} cells")
    val m = codebooks.size
    val enc = index.select(col("neighbor_id"),
      col("cell").cast("int").as("__cell"), col("code").as("__code"))
    val qd = queries.select(col(id).as("query_id"),
      col(vec).cast("array<double>").as("__qv"))
    // nProbe closest cells per query, smallest-(score, cell) first. Small C:
    // per-cell partial L2 against LITERAL centroids (‖c‖² − 2·q·c,
    // driver-side ‖c‖² left-fold matches the executor-side dot fold
    // bit-for-bit) sorted as C structs. Large C: the bounded-insertion
    // embedded-array kernel — same scores, same (score, cell) order, plan
    // size O(1) instead of O(C) (spec-asserted identical at equal C).
    // Either way the probe frame carries exactly |Q|·nProbe rows.
    val probeArr =
      if (coarse.size <= literalMax) {
        val cellScores = coarse.zipWithIndex.map { case (cvec, j) =>
          val cn2 = cvec.foldLeft(0.0)((a, x) => a + x * x)
          struct((lit(cn2) - lit(2.0) *
            graft.functions.VectorFunctions.dot(col("__qv"), typedlit(cvec)))
            .as("d"), lit(j).as("j"))
        }
        slice(array_sort(array(cellScores: _*)), 1, nProbe).getField("j")
      } else org.apache.spark.sql.graftx.PqExpressions
        .coarseProbe(col("__qv"), coarse, nProbe)
    val probed = qd
      .withColumn("__probe", probeArr)
      .select(col("query_id"), col("__qv"),
        explode(col("__probe")).as("__cell"))
    // per probed (query, cell): residual table against THAT cell's centroid
    val qres =
      if (coarse.size <= literalMax)
        zip_with(col("__qv"), element_at(typedlit(coarse), col("__cell") + 1),
          (a, b) => a - b)
      else org.apache.spark.sql.graftx.PqExpressions
        .coarseResidual(col("__qv"), col("__cell").cast("int"), coarse)
    val q = probed
      .withColumn("__qres", qres)
      .select(col("query_id"), col("__cell"),
        org.apache.spark.sql.graftx.PqExpressions
          .pqDistTable(col("__qres"), codebooks).as("__tbl"))
    val scored = enc.join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        (0 until m).map(i => expr(s"__tbl[$i][__code[$i]]")).reduce(_ + _))
    TopK.perKey(scored, "query_id", "adc_dist", "neighbor_id", k,
      descending = false)
  }

  /** IVFADC with exact rerank — the full production recipe: the ADC pass
    * above shortlists `k · rerankFactor` candidates per query from the
    * probed cells' CODES (1-2 bytes/subspace scanned), then ONLY those
    * candidates' fp32 vectors are point-fetched and rescored with exact
    * squared L2 (same asymmetry as [[Similarity.int8RerankTopK]] — raw
    * vectors never enter the approximate scan). Every returned distance
    * is exact; only set membership depends on quantization error. Output:
    * (query_id, neighbor_id, l2_dist, rank).
    */
  def ivfAdcRerankTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
      k: Int, nProbe: Int, rerankFactor: Int = 5): DataFrame = {
    import graft.functions.VectorFunctions.l2DistanceSq
    val shortlist = ivfAdcTopK(corpus, queries, id, vec, coarse, codebooks,
        k * rerankFactor, nProbe)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(id).as("neighbor_id"),
      col(vec).cast("array<double>").as("__cv"))
    val qv = queries.select(col(id).as("query_id"),
      col(vec).cast("array<double>").as("__qv"))
    val rescored = shortlist
      .join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("l2_dist", l2DistanceSq(col("__qv"), col("__cv")))
    TopK.perKey(rescored, "query_id", "l2_dist", "neighbor_id", k,
      descending = false)
  }
}
