package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pq

/** Product-quantization mechanics on a planted two-cluster fixture:
  * codebook shapes, argmin encoding against an independent driver-side
  * fold, and ADC ranking preferring same-cluster neighbors.
  */
class PqSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // two well-separated clusters in 4-dim; m=2 subspaces of width 2
  private val fixture: Seq[(Long, Seq[Float])] = Seq(
    (1L, Seq(1.0f, 1.1f, 5.0f, 5.1f)),
    (2L, Seq(1.1f, 0.9f, 5.1f, 4.9f)),
    (3L, Seq(0.9f, 1.0f, 4.9f, 5.0f)),
    (4L, Seq(-1.0f, -1.1f, -5.0f, -5.1f)),
    (5L, Seq(-1.1f, -0.9f, -5.1f, -4.9f)),
    (6L, Seq(-0.9f, -1.0f, -4.9f, -5.0f)))

  private lazy val df = fixture.toDF("vec_id", "embedding")
  private lazy val books = Pq.trainCodebooks(df, "vec_id", "embedding",
    m = 2, k = 2, maxIter = 5)

  test("codebooks have m x k x sub shape") {
    assert(books.size === 2)
    assert(books.forall(_.size === 2))
    assert(books.forall(_.forall(_.size === 2)))
  }

  test("encode matches an independent argmin fold, clusters share codes") {
    val got = Pq.encode(df, "embedding", books, "code")
      .select(col("vec_id"), col("code"))
      .as[(Long, Seq[Int])].collect().toMap
    // independent reference: argmin_j (|c|^2 - 2 v.c), ties to smaller j
    val want = fixture.map { case (vid, v) =>
      val codes = books.zipWithIndex.map { case (cb, mi) =>
        val sv = v.map(_.toDouble).slice(mi * 2, mi * 2 + 2)
        cb.zipWithIndex.map { case (c, j) =>
          val cn2 = c.foldLeft(0.0)((a, x) => a + x * x)
          val d = cn2 - 2.0 * sv.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2)
          (d, j)
        }.min._2
      }
      vid -> codes
    }.toMap
    assert(got.view.mapValues(_.toList).toMap ===
      want.view.mapValues(_.toList).toMap)
    // the two planted clusters land on distinct full codes
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(1L) !== got(4L))
  }

  test("adcTopK ranks same-cluster neighbors first, shape k per query") {
    val queries = df.filter(col("vec_id").isin(1L, 4L))
    val out = Pq.adcTopK(df, queries, "vec_id", "embedding", books, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(out.count(_._1 == 1L) === 2 && out.count(_._1 == 4L) === 2)
    // every top-2 neighbor of a cluster member is from the same cluster
    assert(out.filter(_._1 == 1L).forall(t => Set(2L, 3L).contains(t._2)))
    assert(out.filter(_._1 == 4L).forall(t => Set(5L, 6L).contains(t._2)))
  }

  test("adc distance equals a driver-side table fold (1e-12)") {
    val out = Pq.adcTopK(df, df.filter(col("vec_id") === 1L), "vec_id",
        "embedding", books, k = 5)
      .select(col("neighbor_id"), col("adc_dist"))
      .as[(Long, Double)].collect().toMap
    val vecs = fixture.toMap
    val q = vecs(1L).map(_.toDouble)
    for ((nid, got) <- out) {
      val v = vecs(nid).map(_.toDouble)
      val want = books.zipWithIndex.map { case (cb, mi) =>
        val sv = v.slice(mi * 2, mi * 2 + 2)
        val qv = q.slice(mi * 2, mi * 2 + 2)
        val code = cb.zipWithIndex.map { case (c, j) =>
          val cn2 = c.foldLeft(0.0)((a, x) => a + x * x)
          (cn2 - 2.0 * sv.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2), j)
        }.min._2
        val c = cb(code)
        val cn2 = c.foldLeft(0.0)((a, x) => a + x * x)
        qv.zip(qv).foldLeft(0.0)((a, p) => a + p._1 * p._2) -
          2.0 * qv.zip(c).foldLeft(0.0)((a, p) => a + p._1 * p._2) + cn2
      }.foldLeft(0.0)(_ + _)
      assert(math.abs(got - want) < 1e-12, s"neighbor $nid: $got vs $want")
    }
  }

  test("encoded index appends: encode(old) ∪ encode(batch) = encode(all)") {
    // the incremental-maintenance contract: encoding is per-row against
    // frozen model state, so new data appends without touching the corpus
    val coarse = Seq(Seq(1.0, 1.0, 5.0, 5.0), Seq(-1.0, -1.0, -5.0, -5.0))
    val old = df.filter(col("vec_id") <= 4L)
    val batch = df.filter(col("vec_id") > 4L)
    val appended = Pq.encodeIndex(old, "vec_id", "embedding", coarse, books)
      .unionByName(Pq.encodeIndex(batch, "vec_id", "embedding", coarse, books))
    val whole = Pq.encodeIndex(df, "vec_id", "embedding", coarse, books)
    assert(appended.exceptAll(whole).isEmpty && whole.exceptAll(appended).isEmpty)
  }

  test("indexed search: disk round-trip is bit-identical and dynamically " +
    "prunes to the probed cells' partitions") {
    val coarse = Seq(Seq(1.0, 1.0, 5.0, 5.0), Seq(-1.0, -1.0, -5.0, -5.0))
    val tmp = java.nio.file.Files.createTempDirectory("pq_idx").toString
    Pq.writeIndex(Pq.encodeIndex(df, "vec_id", "embedding", coarse, books), tmp)
    val idx = spark.read.parquet(tmp)
    // query side parquet-backed with a selective filter (the production
    // shape) — DPP only plans when the probe side filters a scan
    val qdir = java.nio.file.Files.createTempDirectory("pq_q").toString
    df.write.mode("overwrite").parquet(qdir)
    val qs = spark.read.parquet(qdir).filter(col("vec_id") === 1L)
    val viaIdx = Pq.ivfAdcTopKIndexed(idx, qs, "vec_id", "embedding",
      coarse, books, k = 2, nProbe = 1)
    val direct = Pq.ivfAdcTopK(df, qs, "vec_id", "embedding",
      coarse, books, k = 2, nProbe = 1)
    assert(viaIdx.exceptAll(direct).isEmpty && direct.exceptAll(viaIdx).isEmpty)
    assert(viaIdx.count() == 2)
    // file-level pruning: the cell equi-join against the broadcast probe
    // side must plan a dynamic partition filter on the scan
    val p = viaIdx.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("dynamicpruning"), p.take(2000))
  }

  // deterministic synthetic centroid grid: C points spread over 4-dim
  private def gridCentroids(c: Int): Seq[Seq[Double]] =
    Seq.tabulate(c)(j => Seq(
      (j % 13).toDouble - 6.0, ((j / 13) % 11).toDouble - 5.0,
      ((j / 143) % 7).toDouble - 3.0, (j % 5).toDouble - 2.0))

  private def gridCorpus(n: Int) = Seq.tabulate(n)(i =>
    (i.toLong, Seq.tabulate(4)(d =>
      (((i * 31 + d * 17) % 23) - 11) * 0.4f))).toDF("vec_id", "embedding")

  test("large-C switch: kernel probe/residual path is bit-identical to the " +
    "literal path at the same C (full IVFADC search compared)") {
    val coarse = gridCentroids(40)
    val corpus = gridCorpus(120).localCheckpoint()
    val qs = corpus.filter(col("vec_id") % 37 === 0)
    val lit = Pq.ivfAdcTopK(corpus, qs, "vec_id", "embedding", coarse, books,
      k = 5, nProbe = 3, literalMax = Int.MaxValue)
    val ker = Pq.ivfAdcTopK(corpus, qs, "vec_id", "embedding", coarse, books,
      k = 5, nProbe = 3, literalMax = 0)
    // exceptAll is exact on doubles — bit-parity, not tolerance
    assert(lit.exceptAll(ker).isEmpty && ker.exceptAll(lit).isEmpty)
    assert(ker.count() > 0)
    // withResidual parity too (cell + residual doubles bit-equal)
    val rl = Pq.withResidual(corpus, "embedding", coarse,
      literalMax = Int.MaxValue).select(col("vec_id"), col("__cell"), col("__res"))
    val rk = Pq.withResidual(corpus, "embedding", coarse, literalMax = 0)
      .select(col("vec_id"), col("__cell"), col("__res"))
    assert(rl.exceptAll(rk).isEmpty && rk.exceptAll(rl).isEmpty)
  }

  test("large-C probe kernel: C=2048 fits without plan blowup and matches " +
    "a driver-side (score, cell) selection exactly") {
    import org.apache.spark.sql.graftx.PqExpressions
    val c = 2048
    val nProbe = 8
    val coarse = gridCentroids(c)
    val qs = gridCorpus(16)
    val probed = qs.withColumn("__p",
      PqExpressions.coarseProbe(col("embedding").cast("array<double>"),
        coarse, nProbe))
    // plan size must be O(1) in C: the 2048·4 centroid doubles ride the
    // expression object, not the plan tree (a literal formulation is ~2048
    // struct expressions — hundreds of KB of plan string)
    val planStr = probed.queryExecution.executedPlan.toString
    assert(planStr.length < 20000, s"plan grew with C: ${planStr.length} chars")
    val got = probed.select(col("vec_id"), col("__p"))
      .as[(Long, Seq[Int])].collect().toMap
    val cn2 = coarse.map(_.foldLeft(0.0)((a, x) => a + x * x))
    val vecs = gridCorpus(16).as[(Long, Seq[Float])].collect().toMap
    for ((vid, cells) <- got) {
      val v = vecs(vid).map(_.toDouble)
      val want = coarse.zipWithIndex.map { case (cv, j) =>
        (cn2(j) - 2.0 * v.zip(cv).foldLeft(0.0)((a, p) => a + p._1 * p._2), j)
      }.sorted.take(nProbe).map(_._2)
      assert(cells.toList == want.toList, s"query $vid probe set")
    }
    // end-to-end search at C=2048 runs on the kernel path and returns k
    // rows per query with cells actually pruned (score sanity via rerank
    // parity is covered by the equal-C bit-parity test above)
    val corpus = gridCorpus(400).localCheckpoint()
    val out = Pq.ivfAdcTopK(corpus, qs, "vec_id", "embedding", coarse, books,
      k = 3, nProbe = nProbe)
    assert(out.groupBy(col("query_id")).count()
      .filter(col("count") =!= 3).count() == 0)
  }

  test("full OPQ: distortion is monotone non-increasing across " +
    "alternations, beats the same-budget axis-aligned PQ on correlated " +
    "data, stays orthonormal, and is deterministic") {
    import graft.operators.{Opq, Pq}
    import graft.ops.Aggregations.sumStable
    import graft.functions.VectorFunctions.l2DistanceSq
    // planted CROSS-SUBSPACE correlation (m=2 cuts at dim 2): two latents
    // drive dims (0,2) and (1,3), so axis-aligned subspace quantization
    // wastes its codewords on duplicated information — the case OPQ's
    // learned rotation exists for
    val df = (0 until 400).map { i =>
      val z1 = ((i * 31 % 23) - 11) * 0.5
      val z2 = ((i * 17 % 19) - 9) * 0.3
      val n1 = ((i * 13 % 7) - 3) * 0.01
      val n2 = ((i * 29 % 11) - 5) * 0.01
      (i.toLong, Seq(z1 + n1, z2 + n2, z1 - n1, z2 - n2))
    }.toDF("vec_id", "embedding").repartition(5).localCheckpoint()
    val model = Opq.fit(df, "vec_id", "embedding", m = 2, k = 4,
      alternations = 3, initIters = 2)
    // (1) orthonormal rotation
    val d = model.rotation.length
    for (i <- 0 until d; j <- i until d) {
      val dotv = model.rotation(i).zip(model.rotation(j))
        .map { case (a, b) => a * b }.sum
      assert(math.abs(dotv - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"rotation rows $i,$j not orthonormal: $dotv")
    }
    // (2) monotone distortion (the alternating-minimization guarantee)
    val ds = model.distortions
    assert(ds.size == 4)
    for (t <- 1 until ds.size)
      assert(ds(t) <= ds(t - 1) * (1.0 + 1e-6),
        s"distortion rose at alternation $t: ${ds(t - 1)} -> ${ds(t)}")
    // (3) strictly better than axis-aligned PQ with the SAME total Lloyd
    // budget (2 init + 3 alternation rounds) on this correlated fixture
    val plainBooks = Pq.trainCodebooks(df, "vec_id", "embedding",
      m = 2, k = 4, maxIter = 5)
    val plainE = df
      .withColumn("__vd", col("embedding").cast("array<double>"))
      .withColumn("__code", Pq.codesExpr(col("__vd"), plainBooks))
      .withColumn("__hat", flatten(array(plainBooks.zipWithIndex.map {
        case (cb, mi) => element_at(typedlit(cb),
          element_at(col("__code"), mi + 1) + 1) }: _*)))
      .agg(sumStable(l2DistanceSq(col("__vd"), col("__hat"))))
      .head().getDouble(0)
    assert(ds.last < plainE,
      s"OPQ ${ds.last} must beat axis-aligned $plainE on correlated data")
    // (4) deterministic: a second fit is bit-identical
    val model2 = Opq.fit(df, "vec_id", "embedding", m = 2, k = 4,
      alternations = 3, initIters = 2)
    assert(model.rotation.map(_.toSeq).toSeq == model2.rotation.map(_.toSeq).toSeq)
    assert(model.codebooks == model2.codebooks)
    assert(model.distortions == model2.distortions)
  }

  test("large-k assignCell: cosine argmax kernel ≡ literal struct-max, " +
    "ties and zero-norm edge cases included") {
    import graft.operators.Clustering
    import graft.functions.VectorFunctions.l2Norm
    // duplicate centroids force score ties (must resolve to the SMALLER
    // cell in both paths); a zero centroid exercises the 0-norm guard
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.0, 0.0)) ++
      gridCentroids(30)
    val corpus = gridCorpus(200)
    val base = corpus.withColumn("__nrm", l2Norm(col("embedding")))
    val lit = base.select(col("vec_id"), Clustering.assignCell(
      col("embedding"), col("__nrm"), cents, literalMax = Int.MaxValue).as("c"))
    val ker = base.select(col("vec_id"), Clustering.assignCell(
      col("embedding"), col("__nrm"), cents, literalMax = 0).as("c"))
    assert(lit.exceptAll(ker).isEmpty && ker.exceptAll(lit).isEmpty)
  }

  test("procrustesRotation recovers a planted orthogonal map from the " +
      "cross-moment matrix (column-vector convention: returns P itself)") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => (x * 6364136223846793005L + 1442695040888963407L))
    val d = 4
    val a = lcg(5L).take(32 * d).grouped(d)
      .map(_.map(x => Math.floorMod(x, 2001L) / 1000.0 - 1.0).toArray).toArray
    // planted map: 90° rotation in (0,1) crossed with a sign flip in (2,3)
    val p = Array(
      Array(0.0, -1.0, 0.0, 0.0), Array(1.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, -1.0, 0.0), Array(0.0, 0.0, 0.0, 1.0))
    val b = a.map(v => Array.tabulate(d)(i =>
      (0 until d).map(j => p(i)(j) * v(j)).sum))
    val m = Array.tabulate(d, d)((i, j) =>
      a.indices.map(r => a(r)(i) * b(r)(j)).sum)
    val got = graft.operators.Pca.procrustesRotation(m)
    val err = (for (i <- 0 until d; j <- 0 until d)
      yield math.abs(got(i)(j) - p(i)(j))).max
    assert(err < 1e-12, s"recovery error $err")
  }

  test("OPQ x IVFADC: fitIvf is deterministic, the composed search " +
    "returns k rows per query, and rotating the corpus does not change " +
    "exact L2 neighbor geometry") {
    import graft.operators.Opq
    val df = (0 until 400).map { i =>
      val z1 = ((i * 31 % 23) - 11) * 0.5
      val z2 = ((i * 17 % 19) - 9) * 0.3
      val n1 = ((i * 13 % 7) - 3) * 0.01
      val n2 = ((i * 29 % 11) - 5) * 0.01
      (i.toLong, Seq(z1 + n1, z2 + n2, z1 - n1, z2 - n2))
    }.toDF("vec_id", "embedding").repartition(5).localCheckpoint()
    val m1 = Opq.fitIvf(df, "vec_id", "embedding", cells = 4, m = 2, k = 4,
      alternations = 2, initIters = 1)
    val m2 = Opq.fitIvf(df, "vec_id", "embedding", cells = 4, m = 2, k = 4,
      alternations = 2, initIters = 1)
    assert(m1.rotation.map(_.toSeq).toSeq == m2.rotation.map(_.toSeq).toSeq)
    assert(m1.coarse == m2.coarse && m1.codebooks == m2.codebooks)
    val qs = df.filter($"vec_id" % 37 === 0)
    val topk = Opq.ivfAdcTopK(df, qs, "vec_id", "embedding", m1,
      k = 3, nProbe = 2)
    val counts = topk.groupBy($"query_id").count()
      .as[(Long, Long)].collect().toMap
    assert(counts.nonEmpty && counts.values.forall(_ == 3L), counts.toString)
    // search is partitioning-invariant (the heap + tie orders are total)
    val topk7 = Opq.ivfAdcTopK(df.repartition(7), qs, "vec_id", "embedding",
      m1, k = 3, nProbe = 2)
    assert(topk.exceptAll(topk7).isEmpty && topk7.exceptAll(topk).isEmpty)
  }

  test("index erasure: cell-pruned rewrite matches a from-scratch re-encode " +
    "of the retained corpus; searches agree and never return erased ids") {
    val coarse = Seq(Seq(1.0, 1.0, 5.0, 5.0), Seq(-1.0, -1.0, -5.0, -5.0))
    val tmp = java.nio.file.Files.createTempDirectory("pq_erase").toString
    Pq.writeIndex(Pq.encodeIndex(df, "vec_id", "embedding", coarse, books),
      tmp)
    // erase ids 2 and 3 (cluster 1) — their cell footprint is cell 0 only,
    // so cell 1's directory must stay byte-untouched
    val cell1Mtime = {
      val d = new java.io.File(s"$tmp/cell=1")
      d.listFiles().map(_.lastModified()).max
    }
    val erased = df.filter($"vec_id".isin(2L, 3L))
    Pq.eraseFromIndex(spark, tmp, erased, "vec_id", "embedding", coarse)
    val after = spark.read.parquet(tmp)
      .select($"neighbor_id", $"cell".cast("int").as("cell"), $"code")
    val rebuilt = Pq.encodeIndex(df.filter(!$"vec_id".isin(2L, 3L)),
      "vec_id", "embedding", coarse, books)
      .select($"neighbor_id", $"cell".cast("int").as("cell"), $"code")
    assert(after.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(after).isEmpty,
      "erased index != from-scratch re-encode of the retained corpus")
    assert(new java.io.File(s"$tmp/cell=1").listFiles()
      .map(_.lastModified()).max == cell1Mtime,
      "untouched cells must not be rewritten")
    // searches over the erased index equal searches over the rebuild and
    // never surface the data subject
    val qs = df.filter($"vec_id" === 1L)
    val viaErased = Pq.ivfAdcTopKIndexed(spark.read.parquet(tmp), qs,
      "vec_id", "embedding", coarse, books, k = 2, nProbe = 2)
    val viaRebuilt = Pq.ivfAdcTopKIndexed(rebuilt, qs,
      "vec_id", "embedding", coarse, books, k = 2, nProbe = 2)
    assert(viaErased.exceptAll(viaRebuilt).isEmpty &&
      viaRebuilt.exceptAll(viaErased).isEmpty)
    assert(viaErased.filter($"neighbor_id".isin(2L, 3L)).isEmpty)
    // erasing a cluster's whole membership drops its cell directory
    Pq.eraseFromIndex(spark, tmp,
      df.filter($"vec_id" === 1L), "vec_id", "embedding", coarse)
    assert(!new java.io.File(s"$tmp/cell=0").exists(),
      "a cell emptied by erasure must be byte-gone")
    // ghost erasure (id not in the index) is a no-op and never throws
    Pq.eraseFromIndex(spark, tmp,
      Seq((99L, Seq(-1.0f, -1.0f, -5.0f, -5.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", coarse)
    assert(spark.read.parquet(tmp).count() == 3)
  }

  test("training frees its staging checkpoints: Clustering.fit (sampled " +
    "seeding and the fewer-rows-than-k return) and residual codebooks") {
    import graft.operators.Clustering
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val coarse = Clustering.fit(df, "vec_id", "embedding", 2, maxIter = 2,
      seedSampleMod = 2)
    assert(persisted == before, "Clustering.fit with a seeding sample")
    assert(Clustering.fit(df, "vec_id", "embedding", 10, maxIter = 1)
      .size == fixture.size)
    assert(persisted == before, "Clustering.fit with k above the row count")
    Pq.trainResidualCodebooks(df, "vec_id", "embedding", coarse, m = 2,
      k = 2, maxIter = 2)
    assert(persisted == before, "Pq.trainResidualCodebooks")
  }
}
