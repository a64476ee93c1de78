package perfbench

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.time.LocalDateTime
import java.util.SplittableRandom
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, desc, sum}

import graft.config.PipelineConfig
import graft.jobs.{BronzeToSilver, SilverToGold}
import graft.orchestration.Pipeline
import graft.quality.QualityChecks
import graft.streaming.IncrementalIngest

/** The medallion pipeline, bulk and incremental, in one run.
  *
  * Phase 1, backfill: the generated bronze goes through `Pipeline.run`
  * with `BronzeToSilver.run` then `SilverToGold.run`, as `PipelineApp`
  * runs it, `backfills` times, each into a silver and gold of its own;
  * the last one is the one phase 2 builds on. `records_per_s` is the
  * bronze lines of all of them over their summed wall, and
  * `records_per_cpu_s` over the process CPU time they took. Then
  * `QualityChecks.silverInvariants`, which is off the blocking path and so
  * outside the backfills' walls. JSON parse, the partitioned Parquet write
  * and the shuffles of dedup and aggregation dominate, with few jobs.
  *
  * Phase 2, incremental, over the backfill's silver and gold: small
  * writes beside reads. Many small jobs make it driver- and job-latency
  * bound, so a gain for bulk writes that costs small appends or reads
  * shows here.
  *  - Writer thread, open loop: a bronze batch is due every `intervalS`
  *    seconds whatever the writer is doing. When free, the writer lands
  *    every batch that is due and ingests them with
  *    `IncrementalIngest.run(..., maintainGold = true)`. Freshness runs
  *    from a batch's due time until the ingest covering it returns.
  *    The ingest holds the gold lock, so no read runs beside it and the
  *    process CPU time it takes, `ingest_cpu_s`, is its own.
  *    Batches land until the run's seconds are used, and at least two:
  *    at 10 seconds that is exactly two (due at 0 and `intervalS`), so
  *    freshness is the median of two samples and silver grows by two
  *    appends; longer runs land more.
  *  - Reader thread, closed loop, started once the first ingest holds the
  *    gold lock: one dashboard query over the three gold tables after
  *    another. Gold is plain Parquet rewritten in place with
  *    no snapshot isolation, so a read holds a shared lock that the writer
  *    takes exclusively; `gold_read_s` times the read once it holds the
  *    lock, and the wait is reported beside it.
  *
  * `operators` are bypassed.
  */
object Medallion extends Workload {
  val name = "medallion"

  final case class Params(records: Int, files: Int, batchRecords: Int,
      batches: Int, recentDays: Int, intervalS: Double, backfills: Int)

  /** About one customer per 100 backfill records. An ingest takes about
    * 4 s on a 4-core host, so each interval keeps the writer about half
    * busy; at 10 seconds phase 2 ends with its second ingest, and
    * `writer_busy_share` reads about two thirds. `batches` is set from the
    * run's seconds by `generate`.
    */
  val full = Params(records = 12000, files = 4, batchRecords = 1000,
    batches = 0, recentDays = 10, intervalS = 8.0, backfills = 3)

  /** The warm-up's input: one backfill, one batch. The JIT keeps speeding
    * the backfill up over its first several runs in a JVM (a warm-up of two
    * full-size backfills did not stop that), so `records_per_s` is taken
    * over all the timed backfills rather than from one of them.
    */
  val warm = full.copy(records = 4000, batchRecords = 300, batches = 1,
    backfills = 1)

  val Start = LocalDateTime.of(2024, 1, 1, 0, 0)
  val Days = 90
  val Zipf = 1.1
  val Clock = Some(Timestamp.valueOf("2024-06-30 00:00:00"))

  /** Planted facts: the backfill's and each batch's clean rows. */
  final case class Input(p: Params, root: File, cfg: PipelineConfig, bronze: String,
      batches: Seq[File], landing: File, backfill: Bronze.Facts,
      batchClean: Seq[Long])

  private var input: Input = _

  def warmup(env: Env): Unit = {
    val in = make(env, warm, env.seed ^ 0x5eedL, "warmup")
    backfill(env, in.cfg, in.bronze)
    QualityChecks.silverInvariants(env.spark.read.parquet(in.cfg.silverPath))
    land(in.batches.head, in.landing)
    IncrementalIngest.run(env.spark, in.cfg, maintainGold = true)
    dashboard(env, in.cfg)
  }

  /** Enough batches for any run: one is due every `intervalS` seconds,
    * the writer stops landing once the run's seconds are used, and the
    * batch due next may still land after that.
    */
  def generate(env: Env): Unit = input = make(env,
    full.copy(batches = 2 + (env.seconds / full.intervalS).toInt), env.seed,
    "input")

  private def backfill(env: Env, target: PipelineConfig, bronze: String): Unit = {
    val t = env.tracer
    val spark = env.spark
    val cfg = target.copy(rawPath = bronze)
    t.call("orchestration.pipeline") {
      Pipeline.run(Seq(
        Pipeline.Stage("bronze_to_silver", () =>
          t.call("jobs.bronze_to_silver") { BronzeToSilver.run(spark, cfg); () }),
        Pipeline.Stage("silver_to_gold", () =>
          t.call("jobs.silver_to_gold") { SilverToGold.run(spark, cfg) })),
        Pipeline.RetryPolicy(maxRetries = 0), onSuccess = _ => ()) match {
        case Pipeline.Failed(stage, e, _) => throw new RuntimeException(stage, e)
        case _ => ()
      }
    }
  }

  private def land(batch: File, landing: File): Unit =
    Files.move(batch.toPath, new File(landing, batch.getName).toPath)

  private def dashboard(env: Env, cfg: PipelineConfig): Unit = {
    val spark = env.spark
    spark.read.parquet(cfg.goldDailyPath)
      .filter(col("year") === 2024 && col("month") === 3)
      .groupBy("day").agg(sum("total_amount")).collect()
    spark.read.parquet(cfg.goldMonthlyPath)
      .groupBy("month").agg(sum("transaction_count")).collect()
    spark.read.parquet(cfg.goldCustomerPath)
      .orderBy(desc("lifetime_value"), col("customer_id")).limit(10).collect()
  }

  def run(env: Env, out: Outcome): Unit = {
    val t = env.tracer
    val p = input.p
    val cfg = input.cfg

    // phase 1: the backfills (one operation, traced when the run is); the
    // last writes the silver and gold that phase 2 builds on
    val start = System.nanoTime
    for (r <- 0 until p.backfills) {
      val target = if (r == p.backfills - 1) cfg else repCfg(r)
      val c0 = env.cpuS
      out.attempt("backfill")(backfill(env, target, input.bronze)).foreach { w =>
        out.add("backfill_s", w)
        out.add("backfill_cpu_s", env.cpuS - c0)
      }
    }
    out.attempt("silver invariants") {
      val inv = t.call("quality.silver_invariants") {
        QualityChecks.silverInvariants(env.spark.read.parquet(cfg.silverPath))
      }
      if (!inv.values.forall(identity)) out.fail(s"silver invariants: $inv")
    }.foreach(out.add("invariants_s", _))
    out.op("backfill", (System.nanoTime - start) / 1e9, t.enabled)
    env.sampleHeap()

    // phase 2: open-loop ingests and closed-loop reads, until the run's
    // seconds are used and at least two batches have landed
    val lock = new ReentrantReadWriteLock(true)
    @volatile var writerDone = false
    val t0 = System.nanoTime
    def now = (System.nanoTime - t0) / 1e9
    val phase2S = env.seconds - (t0 - start) / 1e9

    val reader = new Thread(() => {
      var i = 0
      while (!writerDone) {
        val traced = i % 2 == 1
        val w0 = System.nanoTime
        lock.readLock.lock()
        try {
          out.add("read_wait_s", (System.nanoTime - w0) / 1e9)
          if (!writerDone) {
            out.attempt("gold read") {
              t.tracing(traced)(t.call("io.gold_read")(dashboard(env, cfg)))
            }.foreach { w =>
              out.add("gold_read_s", w)
              out.op("gold_read", w, traced && t.enabled)
            }
          }
        } finally lock.readLock.unlock()
        i += 1
      }
    }, "perfbench-reader")

    var landed = 0
    var ingests = 0
    val pending = mutable.ArrayBuffer[Double]()
    try {
      while ((landed < 2 || now < phase2S) && landed < input.batches.size) {
        val due = landed * p.intervalS
        while (now < due) Thread.sleep(math.max(1L, ((due - now) * 1000).toLong))
        while (landed < input.batches.size && landed * p.intervalS <= now) {
          land(input.batches(landed), input.landing)
          out.add("lateness_s", now - landed * p.intervalS)
          pending += landed * p.intervalS
          landed += 1
        }
        val traced = ingests % 2 == 1
        lock.writeLock.lock()
        try {
          // the reader starts once the first ingest holds the lock, so the
          // first batch does not race the first read for it
          if (ingests == 0) reader.start()
          val c0 = env.cpuS
          out.attempt("ingest") {
            t.tracing(traced)(t.call("streaming.ingest_batch")(
              IncrementalIngest.run(env.spark, cfg, maintainGold = true)))
          }.foreach { w =>
            out.add("ingest_s", w)
            out.add("ingest_cpu_s", env.cpuS - c0)
            out.op("ingest", w, traced && t.enabled)
            pending.foreach(d => out.add("freshness_s", now - d))
          }
        } finally lock.writeLock.unlock()
        pending.clear()
        ingests += 1
      }
    } finally {
      writerDone = true
      reader.join()
    }
    val span = now
    val lines = out.series("backfill_s").size * input.backfill.lines
    out.opCpuS = Stats.median(out.series("ingest_cpu_s"))
    out.workPerCpuS = lines / out.series("backfill_cpu_s").sum
    out.report ++= Seq(
      "records_per_s" -> lines / out.series("backfill_s").sum,
      "records_per_cpu_s" -> out.workPerCpuS,
      "backfill_cpu_s" -> Stats.summary(out.series("backfill_cpu_s")),
      "backfill_s" -> Stats.summary(out.series("backfill_s")),
      "backfills" -> p.backfills,
      "silver_invariants_s" -> Stats.summary(out.series("invariants_s")),
      "freshness_p50_s" -> Stats.median(out.series("freshness_s")),
      "freshness" -> Stats.summary(out.series("freshness_s")),
      "generator_lateness_s" -> Stats.summary(out.series("lateness_s")),
      "gold_read_p50_s" -> Stats.median(out.series("gold_read_s")),
      "gold_read" -> Stats.summary(out.series("gold_read_s")),
      "gold_reads_per_s" -> out.series("gold_read_s").size / span,
      "read_lock_wait_s" -> Stats.summary(out.series("read_wait_s")),
      "ingest_s" -> Stats.summary(out.series("ingest_s")),
      "ingest_cpu_s" -> Stats.summary(out.series("ingest_cpu_s")),
      "writer_busy_share" -> out.series("ingest_s").sum / span,
      "batches_landed" -> landed,
      "interval_s" -> p.intervalS,
      "bronze_lines" -> input.backfill.lines)
    env.sampleHeap()
  }

  /** Where backfill `r` writes, for every backfill but the last. */
  private def repCfg(r: Int): PipelineConfig =
    input.cfg.copy(
      silverPath = new File(input.root, s"backfill-$r/silver").getAbsolutePath,
      goldPath = new File(input.root, s"backfill-$r/gold").getAbsolutePath)

  def check(env: Env, out: Outcome): Unit = {
    val spark = env.spark
    val cfg = input.cfg
    // every backfill but the last: silver holds exactly the planted clean
    // rows (the last one is checked below, with the batches phase 2 added)
    for (r <- 0 until input.p.backfills - 1) {
      val rows = spark.read.parquet(repCfg(r).silverPath).count()
      out.check(s"backfill $r silver rows $rows == planted clean rows " +
        s"${input.backfill.clean}", rows == input.backfill.clean)
    }
    def files(path: String): Double =
      Files.walk(new File(path).toPath).filter(_.toString.endsWith(".parquet"))
        .count().toDouble
    out.counts("io.silver_files") = files(cfg.silverPath)
    out.counts("io.gold_files") = files(cfg.goldPath)

    // silver holds exactly the planted clean rows of the backfill and of
    // every landed batch
    val landed = input.landing.listFiles().count(_.getName.endsWith(".json"))
    val want = input.backfill.clean + input.batchClean.take(landed).sum
    val rows = spark.read.parquet(cfg.silverPath).count()
    out.check(s"silver rows $rows == planted clean rows $want", rows == want)
    out.check("gold conservation holds", QualityChecks.conservationHolds(
      spark.read.parquet(cfg.goldDailyPath), spark.read.parquet(cfg.goldMonthlyPath),
      spark.read.parquet(cfg.goldCustomerPath)))
    val recompute = cfg.copy(goldPath = env.path("gold_recompute"))
    SilverToGold.run(spark, recompute)
    Seq((cfg.goldDailyPath, recompute.goldDailyPath),
      (cfg.goldMonthlyPath, recompute.goldMonthlyPath),
      (cfg.goldCustomerPath, recompute.goldCustomerPath)).foreach { case (a, b) =>
      val x = spark.read.parquet(a)
      val y = spark.read.parquet(b).select(x.columns.map(col).toIndexedSeq: _*)
      // equal multisets: same size, and nothing of one missing from the other
      out.check(s"incremental gold $a equals a full recompute",
        x.count() == y.count() && x.exceptAll(y).isEmpty)
    }
    out.report("planted") = Map("backfill_clean_rows" -> input.backfill.clean,
      "backfill_duplicate_ids" -> input.backfill.duplicateIds.size)
  }

  // ---------------------------------------------------------------------
  // Generator: the backfill's bronze over 90 days, then batches dated in
  // the last `recentDays` days.

  private def make(env: Env, p: Params, seed: Long, tag: String): Input = {
    val rnd = new SplittableRandom(seed * 0x7FB5D329728EA185L + 11)
    val root = new File(env.dir, tag)
    val customers = new Bronze.Customers(math.max(10, p.records / 100), Zipf)
    val bronze = new File(root, "bronze")
    val facts = Bronze.write(bronze, "part", p.files, p.records, 1L, Start, Days,
      Bronze.Shares(), rnd, customers.draw)
    val staged = new File(root, "staged")
    val batchFacts = (0 until p.batches).map { b =>
      Bronze.write(staged, f"batch-$b%05d", 1, p.batchRecords,
        100000000L + b.toLong * p.batchRecords, Start.plusDays(Days - p.recentDays),
        p.recentDays, Bronze.Shares(), rnd, customers.draw)
    }
    val landing = new File(root, "landing")
    landing.mkdirs()
    Input(p, root,
      PipelineConfig(landing.getAbsolutePath, new File(root, "silver").getAbsolutePath,
        new File(root, "gold").getAbsolutePath,
        checkpointPath = new File(root, "checkpoint").getAbsolutePath, clock = Clock),
      bronze.getAbsolutePath,
      (0 until p.batches).map(b => new File(staged, f"batch-$b%05d-0.json")),
      landing, facts, batchFacts.map(_.clean))
  }
}
