package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{current_timestamp, lit}
import org.apache.spark.storage.StorageLevel

import graft.config.PipelineConfig
import graft.io.{Sinks, Sources}
import graft.ops.Aggregations

/** Silver → gold job: three independent aggregations from one silver scan
  * (reference `src/glue_jobs/silver_to_gold.py:main`).
  *
  * The reference scans silver three times with no cache (SURVEY.md §4.3
  * anti-pattern); here the cleaned projection is persisted MEMORY_AND_DISK
  * across the fan-out and unpersisted after — at 100 TB that's one scan of
  * the fact table instead of three (with only the ~7 referenced columns
  * cached, thanks to column pruning before the persist point).
  */
object SilverToGold {

  /** Recompute and overwrite the three gold tables from silver. The three
    * sink writes run concurrently and each commits on its own, so a failed
    * run can leave gold partly committed: some tables rewritten, the
    * others stale or partial. The failure still propagates; rerun until it
    * succeeds (each write is a full overwrite, so a rerun converges).
    */
  def run(spark: SparkSession, cfg: PipelineConfig): Unit = {
    val silver = Sources.silverParquet(spark, cfg.silverPath)
    // P7 — empty-input short-circuit (silver_to_gold.py:122-124)
    if (silver.isEmpty) return
    val projected = silver.select("transaction_id", "customer_id", "amount",
      "transaction_date", "year", "month", "day")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val createdAt = cfg.clock.map(t => lit(t)).getOrElse(current_timestamp())
      val daily = Aggregations.daily(projected, cfg.approxDistinct)
        .withColumn("created_at", createdAt)
        .filter("year IS NOT NULL AND month IS NOT NULL") // P5 guard
      val monthly = Aggregations.monthly(projected, cfg.approxDistinct)
        .withColumn("created_at", createdAt)
        .filter("year IS NOT NULL")
      val customer = Aggregations.customerInsights(projected, cfg.approxDistinct)
        .withColumn("created_at", createdAt)
      // the three sinks are independent (three aggregations of the SAME
      // persisted projection, three disjoint output paths) — overlap them
      // (guide §2.6): the monthly/customer jobs back-fill the executors the
      // daily write's tail frees, and on a cluster the three per-job
      // scheduling round-trips overlap. Concurrent first-materialization of
      // `projected` is safe: the block manager computes each cached
      // partition once under a per-block lock.
      graft.orchestration.Par.run(Seq(
        () => Sinks.writeGoldDaily(daily, cfg.goldDailyPath),
        () => Sinks.writeGoldMonthly(monthly, cfg.goldMonthlyPath),
        () => Sinks.writeGoldCustomer(customer, cfg.goldCustomerPath)))
    } finally projected.unpersist()
  }

  /** PARTITION-RESTRICTED gold maintenance — the 100 TB path [[run]]'s
    * full recompute-overwrite cannot take: only the gold partitions the
    * just-ingested `batch` of silver rows touches are re-aggregated and
    * replaced (dynamic partition overwrite), so nightly cost scales with
    * the BATCH's time footprint, not the table's history. Spec-asserted
    * equivalent to [[run]] after any batch sequence: re-aggregating a
    * whole y/m partition from silver is idempotent in how many batches
    * contributed rows to it (late data simply re-aggregates its
    * partition), the same argument the reference's full overwrite relies
    * on, applied per partition.
    *
    *  - Daily (y/m-partitioned): recompute the distinct (year, month)
    *    pairs in `batch` from a silver scan STATICALLY pruned to those
    *    partitions (the touched set is collected — bounded, a batch spans
    *    a handful of months — and becomes partition-filter literals, so
    *    the scan reads touched directories only).
    *  - Monthly (year-partitioned): same with the touched years.
    *  - Customer insights: a customer's metrics span all history, so this
    *    is NOT partition-prunable — instead silver is semi-joined to the
    *    batch's customer set (one scan, narrow output) and the resulting
    *    rows key-merge into the customer table ([[Sinks.mergeGoldCustomer]]).
    *
    * `batch` must be silver-shaped (the frame just appended — e.g.
    * [[BronzeToSilver.transform]]'s output or the streaming ingest's
    * micro-batch). Empty batch → no-op (P7 semantics).
    */
  def runIncremental(spark: SparkSession, cfg: PipelineConfig,
      batch: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (batch.isEmpty) return
    val silver = Sources.silverParquet(spark, cfg.silverPath)
    val createdAt = cfg.clock.map(t => lit(t)).getOrElse(current_timestamp())
    // touched partitions: bounded driver state (P5 guard drops null keys)
    val pairs = batch.select(col("year"), col("month")).distinct()
      .filter("year IS NOT NULL AND month IS NOT NULL")
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    if (pairs.nonEmpty) {
      val years = pairs.map(_._1).distinct.toSeq
      val ymPred = pairs.map { case (y, m) =>
        col("year") === y && col("month") === m }.reduce(_ || _)
      // one physical scan of the touched YEARS feeds both aggregates
      // (monthly needs every month of a touched year; daily re-filters
      // to the touched months)
      val projected = silver.filter(col("year").isin(years: _*))
        .select("transaction_id", "customer_id", "amount",
          "transaction_date", "year", "month", "day")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val daily = Aggregations.daily(projected.filter(ymPred),
            cfg.approxDistinct)
          .withColumn("created_at", createdAt)
        val monthly = Aggregations.monthly(projected, cfg.approxDistinct)
          .withColumn("created_at", createdAt)
        Sinks.overwriteGoldDailyPartitions(daily, cfg.goldDailyPath)
        Sinks.overwriteGoldMonthlyPartitions(monthly, cfg.goldMonthlyPath)
      } finally projected.unpersist()
    }
    // customer insights for the batch's customers only, merged by key
    val customers = batch.select(col("customer_id")).distinct()
    val touched = silver
      .join(broadcast(customers), Seq("customer_id"), "left_semi")
      .select("transaction_id", "customer_id", "amount", "transaction_date",
        "year", "month", "day")
    val insights = Aggregations.customerInsights(touched, cfg.approxDistinct)
      .withColumn("created_at", createdAt)
    Sinks.mergeGoldCustomer(spark, insights, "customer_id",
      cfg.goldCustomerPath)
  }

  /** GDPR / right-to-be-forgotten erasure — the deletion path [[run]]'s
    * full overwrite cannot take at 100 TB: rewrite ONLY the silver
    * day-partitions that hold the erased customers' rows, re-aggregate
    * only the gold partitions those rows touched (from the REWRITTEN
    * silver), and key-delete the customers from the customer table. Cost
    * scales with the erased customers' time footprint, never the table.
    *
    * CRASH-SAFE / IDEMPOTENT: the touched-gold footprint is the UNION of
    * the subject's silver footprint and their GOLD footprint (the daily
    * and monthly tables carry customer_id), so a retry after a failure
    * between the silver rewrite and the gold re-aggregation still finds
    * the stale gold partitions and completes the erasure — deriving the
    * footprint from silver alone would see an already-clean silver and
    * silently leave the subject's rows in gold. The customer-table key
    * delete runs UNCONDITIONALLY (even when silver is empty or already
    * clean), and a second invocation after success is a no-op.
    *
    * Dynamic partition overwrite only replaces partitions PRESENT in the
    * written frame, so partitions left EMPTY by the erasure are dropped
    * explicitly ([[Sinks.deletePartitionDirs]]) — silver day dirs, gold
    * month dirs, and gold year dirs alike; without that the old files
    * (and the data subject's rows) would silently survive.
    *
    * Erased-customer rows in NULL year/month/day partitions (hive default
    * partition) fail LOUDLY: partition predicates cannot address them, so
    * completing "successfully" while they survive would be a silent
    * compliance violation. The silver writers guard partition keys (P5),
    * so this only fires on tables written outside this library.
    *
    * `customers`' first column is the erased customer-id set (bounded:
    * erasure requests are human-scale). Spec-proven: end state ≡ a full
    * [[run]] over silver-minus-customers, byte-erased on disk, including
    * after a simulated mid-erasure crash.
    *
    * `provenance = Some((path, epoch))` additionally APPENDS an erasure
    * provenance card — one row per touched partition per tier:
    * (tombstone_epoch, tier, partition, rows_erased), plus the
    * customer-table row count — so derived-corpus consumers can prove
    * freshness against a tombstone epoch instead of re-scanning for the
    * subject (oracle-gated: every count is recomputable from the cleaned
    * law). The counts are MEASURED before any mutation (the rewrite
    * destroys the evidence) but the card is WRITTEN only after every
    * tier's mutation succeeds: a card row existing for an epoch means
    * that erasure completed, so a crash mid-erasure never leaves a
    * tombstone consumers would wrongly trust. The card records what THIS
    * invocation found: a crash-retry appends a new epoch whose counts
    * cover only what remained.
    */
  def runErasure(spark: SparkSession, cfg: PipelineConfig,
      customers: org.apache.spark.sql.DataFrame,
      provenance: Option[(String, Long)] = None): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val keys = customers
      .select(col(customers.columns.head).cast("string").as("customer_id"))
      .distinct().localCheckpoint()
    try {
      val haveSilver = exists(cfg.silverPath)
      // the subject's footprint scans — silver (WITH row counts: the
      // provenance card rides the same scan), gold daily, gold monthly,
      // and the provenance customer-row count — are four INDEPENDENT
      // read-only jobs over four different tables: run them concurrently
      // (guide §2.6) instead of paying four sequential job round-trips.
      // Nulls are collected, not filtered — they must fail, not survive.
      def silverCountsThunk(): Seq[((Int, Int, Int), Long)] =
        if (!haveSilver) Nil else {
          val rows = Sources.silverParquet(spark, cfg.silverPath)
            .join(broadcast(keys), Seq("customer_id"), "left_semi")
            .groupBy(col("year"), col("month"), col("day"))
            .agg(org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__n"))
            .collect()
          val (nulls, complete) = rows.partition(r =>
            r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))
          if (nulls.nonEmpty) throw new IllegalStateException(
            "runErasure: erased customers have silver rows in NULL " +
              "year/month/day partitions (hive default partition) — " +
              "partition-restricted rewrite cannot address them; repair the " +
              "partition keys (P5 guard) before erasing")
          complete.map(r =>
            ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toSeq
        }
      // the subject's GOLD footprint — the retry path's source of truth
      // after a crash that already rewrote silver
      def goldPairCountsThunk(): Seq[((Int, Int), Long)] =
        if (!exists(cfg.goldDailyPath)) Nil
        else spark.read.parquet(cfg.goldDailyPath)
          .join(broadcast(keys), Seq("customer_id"), "left_semi")
          .groupBy(col("year"), col("month"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("__n"))
          .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
          .toSeq
      def goldYearCountsThunk(): Seq[(Int, Long)] =
        if (!exists(cfg.goldMonthlyPath)) Nil
        else spark.read.parquet(cfg.goldMonthlyPath)
          .join(broadcast(keys), Seq("customer_id"), "left_semi")
          .groupBy(col("year"))
          .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("__n"))
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      def custCountThunk(): Option[Long] =
        if (provenance.isEmpty || !exists(cfg.goldCustomerPath)) None
        else Some(spark.read.parquet(cfg.goldCustomerPath)
          .join(broadcast(keys), Seq("customer_id"), "left_semi")
          .count())
      val footprints = graft.orchestration.Par.eval[Any](Seq(
        () => silverCountsThunk(), () => goldPairCountsThunk(),
        () => goldYearCountsThunk(), () => custCountThunk()))
      val silverCounts =
        footprints(0).asInstanceOf[Seq[((Int, Int, Int), Long)]]
      val goldPairCounts =
        footprints(1).asInstanceOf[Seq[((Int, Int), Long)]]
      val goldYearCounts = footprints(2).asInstanceOf[Seq[(Int, Long)]]
      val custCount = footprints(3).asInstanceOf[Option[Long]]
      val silverTriples: Seq[(Int, Int, Int)] = silverCounts.map(_._1)
      val goldPairs: Seq[(Int, Int)] = goldPairCounts.map(_._1)
      val goldYears: Seq[Int] = goldYearCounts.map(_._1)
      // erasure provenance card: counts MEASURED here, before any
      // mutation destroys the evidence — but written only after every
      // tier's rewrite succeeds (a card row for an epoch means that
      // erasure COMPLETED; a crash mid-erasure must not leave a
      // tombstone consumers would wrongly trust)
      val cardRows: Seq[(Long, String, String, Long)] =
        provenance match {
          case None => Nil
          case Some((_, epoch)) =>
            val custRows: Seq[(Long, String, String, Long)] =
              custCount.toSeq.map(n => (epoch, "gold_customer", "", n))
            silverCounts.map { case ((y, m, d), n) =>
              (epoch, "silver", s"year=$y/month=$m/day=$d", n) } ++
              goldPairCounts.map { case ((y, m), n) =>
                (epoch, "gold_daily", s"year=$y/month=$m", n) } ++
              goldYearCounts.map { case (y, n) =>
                (epoch, "gold_monthly", s"year=$y", n) } ++
              custRows
        }
      // touched gold partitions (silver ∪ gold footprint) re-aggregate
      // from the REWRITTEN silver
      val pairs = (silverTriples.map(t => (t._1, t._2)) ++ goldPairs).distinct
      val years = (pairs.map(_._1) ++ goldYears).distinct
      // silver rewrite → gold re-aggregation is a dependent chain (gold
      // recomputes from the REWRITTEN silver); the customer-table key
      // delete below touches a table no step of that chain reads or
      // writes, so the two run concurrently (guide §2.6)
      def silverAndGoldPhase(): Unit = {
      if (silverTriples.nonEmpty) {
        val silver = Sources.silverParquet(spark, cfg.silverPath)
        val dayPred = silverTriples.map { case (y, m, d) =>
          col("year") === y && col("month") === m && col("day") === d
        }.reduce(_ || _)
        // staged BEFORE the overwrite — it reads the path it replaces
        val retained = silver.filter(dayPred)
          .join(broadcast(keys), Seq("customer_id"), "left_anti")
          .localCheckpoint()
        try {
          Sinks.overwriteSilverPartitions(retained, cfg.silverPath)
          val still = retained.select("year", "month", "day").distinct()
            .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
          Sinks.deletePartitionDirs(spark, cfg.silverPath,
            silverTriples.filterNot(still).map { case (y, m, d) =>
              s"year=$y/month=$m/day=$d" })
        } finally org.apache.spark.sql.graftx.CheckpointUtils
          .unpersistLocalCheckpoint(retained)
      }
      if (!haveSilver) {
        // no silver to recompute from: other customers' aggregates in the
        // touched partitions must survive, so drop ONLY the subject's gold
        // rows by anti-join (partition-pruned rewrite, same staging rule)
        def antiRewrite(path: String, pred: org.apache.spark.sql.Column,
            write: (org.apache.spark.sql.DataFrame, String) => Unit,
            partCols: Seq[String], touched: Set[Seq[Int]]): Unit = {
          val retained = spark.read.parquet(path).filter(pred)
            .join(broadcast(keys), Seq("customer_id"), "left_anti")
            .localCheckpoint()
          try {
            write(retained, path)
            // partitions holding ONLY the subject: dynamic overwrite wrote
            // nothing there, so the old files must be dropped explicitly
            val still: Set[Seq[Int]] =
              retained.select(partCols.map(col): _*).distinct()
                .collect()
                .map(r => partCols.indices.map(r.getInt): Seq[Int]).toSet
            Sinks.deletePartitionDirs(spark, path,
              touched.filterNot(still).toSeq.map(vs =>
                partCols.zip(vs).map { case (c, v) => s"$c=$v" }
                  .mkString("/")))
          } finally org.apache.spark.sql.graftx.CheckpointUtils
            .unpersistLocalCheckpoint(retained)
        }
        // the two anti-rewrites touch disjoint tables — overlap them
        graft.orchestration.Par.run(Seq(
          () => if (goldPairs.nonEmpty)
            antiRewrite(cfg.goldDailyPath,
              goldPairs.map { case (y, m) =>
                col("year") === y && col("month") === m }.reduce(_ || _),
              Sinks.overwriteGoldDailyPartitions,
              Seq("year", "month"),
              goldPairs.map(p => Seq(p._1, p._2)).toSet),
          () => if (goldYears.nonEmpty)
            antiRewrite(cfg.goldMonthlyPath,
              col("year").isin(goldYears: _*),
              Sinks.overwriteGoldMonthlyPartitions,
              Seq("year"), goldYears.map(Seq(_)).toSet)))
      } else if (pairs.nonEmpty) {
        val ymPred = pairs.map { case (y, m) =>
          col("year") === y && col("month") === m }.reduce(_ || _)
        val silver2 = Sources.silverParquet(spark, cfg.silverPath)
        val projected = silver2.filter(col("year").isin(years: _*))
          .select("transaction_id", "customer_id", "amount",
            "transaction_date", "year", "month", "day")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val createdAt = cfg.clock.map(t => lit(t))
            .getOrElse(current_timestamp())
          val daily = Aggregations.daily(projected.filter(ymPred),
              cfg.approxDistinct)
            .withColumn("created_at", createdAt)
          val monthly = Aggregations.monthly(projected, cfg.approxDistinct)
            .withColumn("created_at", createdAt)
          // daily and monthly chains (re-agg write + emptied-partition
          // drop) touch disjoint gold tables from the SAME persisted
          // projection — overlap them (guide §2.6); the block manager
          // computes each cached partition once under a per-block lock
          graft.orchestration.Par.run(Seq(
            () => {
              Sinks.overwriteGoldDailyPartitions(daily, cfg.goldDailyPath)
              // gold partitions the erasure emptied entirely
              val dailyStill = projected.filter(ymPred)
                .select("year", "month").distinct()
                .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
              Sinks.deletePartitionDirs(spark, cfg.goldDailyPath,
                pairs.filterNot(dailyStill).map { case (y, m) =>
                  s"year=$y/month=$m" })
            },
            () => {
              Sinks.overwriteGoldMonthlyPartitions(monthly,
                cfg.goldMonthlyPath)
              val monthlyStill = projected.select("year").distinct()
                .collect().map(_.getInt(0)).toSet
              Sinks.deletePartitionDirs(spark, cfg.goldMonthlyPath,
                years.filterNot(monthlyStill).map(y => s"year=$y"))
            }))
        } finally projected.unpersist()
      }
      }
      // the customer table row is a pure key delete (a merge cannot
      // remove keys that no longer have any rows) — UNCONDITIONAL, so an
      // empty or already-clean silver still erases the aggregate row
      graft.orchestration.Par.run(Seq(
        () => silverAndGoldPhase(),
        () => Sinks.deleteGoldCustomerKeys(spark, keys, "customer_id",
          cfg.goldCustomerPath)))
      // every tier's mutation succeeded: publish the card
      provenance.foreach { case (path, _) =>
        import spark.implicits._
        cardRows.toDF("tombstone_epoch", "tier", "partition", "rows_erased")
          .coalesce(1).write.mode("append")
          .option("compression", "snappy").parquet(path)
      }
    } finally org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(keys)
  }
}
