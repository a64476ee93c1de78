package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Env(val spark: SparkSession, val tracer: Tracer, val dir: File,
    val seed: Long, val seconds: Double) {

  private var heapPeakMb = 0.0

  /** Used heap just after a full collection, folded into the run's peak.
    * Workloads call this between operations, never inside a timed one.
    */
  def sampleHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    synchronized { heapPeakMb = math.max(heapPeakMb, used) }
  }

  def peakHeapMb: Double = synchronized(heapPeakMb)

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process so far, in seconds: every thread's, the
    * JIT's and the collector's too. The kernel leaves out the time the
    * hypervisor gives to other guests, which a wall time includes.
    */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def path(name: String): String = new File(dir, name).getAbsolutePath
}

/** What a workload's timed section and checks produced. */
final class Outcome {
  /** Named timing or rate samples, e.g. one backfill wall per entry. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Every operation as (kind, wall seconds, whether it ran traced). */
  val opWalls = mutable.ArrayBuffer[(String, Double, Boolean)]()
  val failures = mutable.ArrayBuffer[String]()
  /** Named end-to-end figures and workload facts for the report. */
  val report = mutable.LinkedHashMap[String, Any]()
  /** Per-layer counts that are not call counters (rows out, file counts). */
  val counts = mutable.LinkedHashMap[String, Double]()
  var attempted = 0
  var failed = 0
  /** The gated end-to-end figures, in process CPU time (see `Env.cpuS`). */
  var opCpuS = Double.NaN
  var workPerCpuS = Double.NaN

  def add(series: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(series, mutable.ArrayBuffer[Double]()) += v
  }

  def series(name: String): Seq[Double] =
    synchronized(samples.getOrElse(name, Nil).toSeq)

  def op(kind: String, wallS: Double, traced: Boolean): Unit =
    synchronized(opWalls += ((kind, wallS, traced)))

  /** Runs one operation, counting it as attempted and, if it throws, as
    * failed. Returns the wall time in seconds, or None on failure.
    */
  def attempt(label: String)(body: => Unit): Option[Double] = {
    synchronized(attempted += 1)
    val t0 = System.nanoTime
    try {
      body
      Some((System.nanoTime - t0) / 1e9)
    } catch {
      case e: Throwable =>
        fail(s"$label: $e")
        System.err.println(s"[perfbench] $label failed")
        e.printStackTrace()
        None
    }
  }

  /** Records an incorrect output or a failed operation. */
  def fail(msg: String): Unit = synchronized {
    failed += 1
    failures += msg
  }

  def check(label: String, ok: => Boolean): Unit = {
    synchronized(attempted += 1)
    val holds = try ok catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    }
    if (!holds) fail(s"check failed: $label")
  }
}

trait Workload {
  def name: String
  /** One operation through every call of the timed section, on an input of
    * full size made from another seed, so no timed operation is the first
    * of its kind in the JVM. Untimed.
    */
  def warmup(env: Env): Unit
  /** Make the full input from the seed: files on disk or in-memory rows. */
  def generate(env: Env): Unit
  /** The timed section: runs for about `env.seconds`. */
  def run(env: Env, out: Outcome): Unit
  /** Correctness checks over what `run` produced, outside the timing. */
  def check(env: Env, out: Outcome): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p50/p75/p90/p95/p99 with at least ten samples beyond
    * it, as (label, value); the maximum, labelled so, when no percentile
    * has ten samples beyond it.
    */
  def tail(xs: Seq[Double]): (String, Double) = {
    val n = xs.size
    Seq(99, 95, 90, 75, 50).find(p => n * (100 - p) / 100.0 >= 10.0) match {
      case Some(p) => (s"p$p", quantile(xs, p / 100.0))
      case None => ("max", if (xs.isEmpty) Double.NaN else xs.max)
    }
  }

  def summary(xs: Seq[Double]): Map[String, Any] = {
    val (tl, tv) = tail(xs)
    Map("n" -> xs.size, "p50" -> median(xs), "tail" -> tl, "tail_value" -> tv)
  }
}

/** Minimal JSON writer for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
