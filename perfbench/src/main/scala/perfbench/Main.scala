package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --dir <work dir> --out <result.json> --spans <spans.jsonl>
  * }}}
  *
  * The spans file is written by traced runs only.
  *
  * Set-up, reported as `setup_s`, runs from JVM start until the session
  * from `Sessions.builder` is built and an untimed warm-up operation has
  * run every call of the timed section on an input made from another seed,
  * so work moved into first use shows in it. Then the full input is
  * generated, which is part of no reported figure.
  */
object Main {
  val Workloads: Seq[Workload] = Seq(Medallion, IterativeOps)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; one of " +
        Workloads.map(_.name).mkString(", ")))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = new File(opts("dir")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(dir, cores)
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1e3
    val runId = s"${wl.name}-seed$seed-trace${opts("trace")}"
    val tracer = new Tracer(spark.sparkContext, runId, cores)
    val warmS = time(wl.warmup(
      new Env(spark, tracer, new File(dir, "warmup"), seed, seconds)))
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1e3
    log(f"session built $sessionS%.2f s after JVM start, warm-up $warmS%.2f s")

    val env = new Env(spark, tracer, new File(dir, "run"), seed, seconds)
    val genS = time(wl.generate(env))
    log(f"generate $genS%.2f s")
    env.sampleHeap()
    tracer.enabled = traced
    val out = new Outcome
    val timedS = time(wl.run(env, out))
    tracer.enabled = false
    env.sampleHeap()
    val checkS = time(wl.check(env, out))
    log(f"timed $timedS%.2f s, checks $checkS%.2f s, " +
      s"attempted ${out.attempted}, failed ${out.failed}")
    out.failures.foreach(f => log(s"FAILED: $f"))

    val layers = if (traced) Layers.metrics(tracer, out) else Map.empty[String, Double]
    if (traced) out.report("span_coverage") = Layers.coverage(tracer, out)
    if (traced) writeSpans(new File(opts("spans")), tracer)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_cpu_s" -> out.opCpuS,
      "work_per_cpu_s" -> out.workPerCpuS,
      "peak_heap_mb" -> env.peakHeapMb)
    val result = Map(
      "workload" -> wl.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores,
      "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "failed_ops_ratio" -> out.failed.toDouble / math.max(1, out.attempted),
      "failures" -> out.failures,
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "report" -> out.report,
      "samples" -> out.samples,
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "generate_s" -> genS, "timed_s" -> timedS,
      "check_s" -> checkS,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
    val pw = new PrintWriter(opts("out"), "UTF-8")
    try pw.println(Json(result)) finally pw.close()
    spark.stop()
  }

  private def session(dir: File, cores: Int): SparkSession = {
    val local = new File(dir, "spark-local")
    local.mkdirs()
    val s = graft.Sessions.builder(cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def writeSpans(f: File, tracer: Tracer): Unit = {
    val stats = tracer.stats()
    val pw = new PrintWriter(f, "UTF-8")
    try tracer.closed.foreach { s =>
      val c = stats(s.id)
      pw.println(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run" -> s.run, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> c.wallS, "self_s" -> c.selfS, "jobs" -> c.jobs,
        "exec_busy_share" -> c.execBusyShare, "driver_gap_s" -> c.driverGapS,
        "shuffle_bytes" -> c.shuffleBytes)))
    } finally pw.close()
  }

  def time(body: => Unit): Double = {
    val t0 = System.nanoTime
    body
    (System.nanoTime - t0) / 1e9
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
