package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** One call into an engine layer, as seen from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, startNs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Per-span counters derived from the Spark jobs the span submitted. */
final case class CallStats(wallS: Double, jobs: Int, execBusyShare: Double,
    driverGapS: Double, shuffleBytes: Long, selfS: Double)

/** Bench-side tracing: spans around calls into the engine's layers, plus a
  * listener that attributes Spark jobs to the innermost open span.
  *
  * Attribution rides a Spark local property set on the calling thread.
  * Threads that a call creates inherit it (the `Par` pools and the
  * streaming query thread), so their jobs count for the call too. A job
  * group would not do: the streaming engine sets its own group on every
  * micro-batch.
  *
  * Nothing here touches engine code. When tracing is off, `call` only
  * runs its body, so untraced operations pay no span or property cost.
  */
final class Tracer(sc: SparkContext, run: String, cores: Int) {
  import Tracer.Prop

  /** Whether this run is traced at all. */
  @volatile var enabled: Boolean = false

  private val active = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = true
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val listener = new JobListener
  sc.addSparkListener(listener)

  /** Runs `body` with this thread's spans on or off. A traced run leaves
    * every other operation untraced, to measure what tracing costs.
    */
  def tracing[A](on: Boolean)(body: => A): A = {
    val prev = active.get
    active.set(on)
    try body finally active.set(prev)
  }

  def call[A](name: String)(body: => A): A =
    if (!enabled || !active.get) body
    else {
      val outer = open.get
      val span = spans.synchronized {
        val s = Span(spans.size, name, outer.headOption.map(_.id).getOrElse(-1),
          run, System.currentTimeMillis, System.nanoTime)
        spans += s
        s
      }
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, span.id.toString)
      open.set(span :: outer)
      try body
      finally {
        span.endNs = System.nanoTime
        span.endMs = System.currentTimeMillis
        open.set(outer)
        sc.setLocalProperty(Prop, prev)
      }
    }

  def closed: Seq[Span] = spans.synchronized(spans.filter(_.endNs >= 0).toSeq)

  /** Counters for every closed span; call once, after the timed section. */
  def stats(): Map[Int, CallStats] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val all = closed
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    listener.synchronized {
      all.map { s =>
        val ids = subtree(s).map(_.id).toSet
        val jobs = listener.jobs.values.filter(j => ids(j.span)).toSeq
        val busyMs = ids.toSeq.map(listener.runTimeMs.getOrElse(_, 0L)).sum
        val shuffle = ids.toSeq.map(listener.shuffleBytes.getOrElse(_, 0L)).sum
        val wallMs = math.max(1L, s.endMs - s.startMs)
        val jobCover = Tracer.unionMs(jobs.map(j =>
          (math.max(j.startMs, s.startMs),
            math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))))
        val childCover = Tracer.unionMs(children.getOrElse(s.id, Nil)
          .map(c => (c.startMs, c.endMs)))
        s.id -> CallStats(
          wallS = s.wallS,
          jobs = jobs.size,
          execBusyShare = busyMs.toDouble / (wallMs.toDouble * cores),
          driverGapS = math.max(0L, wallMs - jobCover) / 1e3,
          shuffleBytes = shuffle,
          selfS = math.max(0L, wallMs - childCover) / 1e3)
      }.toMap
    }
  }

  private final class JobRec(val span: Int, val startMs: Long) {
    @volatile var endMs: Long = -1L
  }

  private final class JobListener extends SparkListener {
    val jobs = mutable.Map[Int, JobRec]()
    val stageSpan = mutable.Map[Int, Int]()
    val runTimeMs = mutable.Map[Int, Long]()
    val shuffleBytes = mutable.Map[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .foreach { p =>
          val span = p.toInt
          jobs(e.jobId) = new JobRec(span, e.time)
          e.stageIds.foreach(stageSpan(_) = span)
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        runTimeMs(span) = runTimeMs.getOrElse(span, 0L) + m.executorRunTime
        shuffleBytes(span) = shuffleBytes.getOrElse(span, 0L) +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
