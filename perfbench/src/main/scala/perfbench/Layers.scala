package perfbench

/** The per-layer metric catalogue. Every traced run reports every name;
  * a call the workload does not make reads 0, which is the prediction for
  * that layer on that workload.
  */
object Layers {

  val Calls: Seq[String] = Seq(
    "jobs.bronze_to_silver", "jobs.silver_to_gold", "quality.silver_invariants",
    "streaming.ingest_batch", "io.gold_read",
    "operators.kmeans_fit", "operators.pq_train", "operators.opq_fit",
    "operators.ivf_search", "operators.hyperanf", "operators.scc",
    "operators.pagerank")

  /** Counts a workload records itself, outside any call. */
  val Counts: Seq[String] = Seq("io.silver_files", "io.gold_files")

  /** Median per invocation of each call's counters over the traced
    * operations, the workload's extra counts, and the tracing overhead.
    */
  def metrics(tracer: Tracer, out: Outcome): Map[String, Double] = {
    val stats = tracer.stats()
    val byName = tracer.closed.groupBy(_.name)
    val calls = Calls.flatMap { c =>
      val cs = byName.getOrElse(c, Nil).map(s => stats(s.id))
      def med(f: CallStats => Double) =
        if (cs.isEmpty) 0.0 else Stats.median(cs.map(f))
      Seq(
        s"$c.wall_s" -> med(_.wallS),
        s"$c.jobs" -> med(_.jobs.toDouble),
        s"$c.exec_busy_share" -> med(_.execBusyShare),
        s"$c.driver_gap_s" -> med(_.driverGapS),
        s"$c.shuffle_bytes" -> med(_.shuffleBytes.toDouble))
    }
    // per kind of operation with both traced and untraced samples, the
    // median traced wall minus the median untraced one; then their median
    val perKind = out.opWalls.groupBy(_._1).values.toSeq.flatMap { ops =>
      val (traced, plain) = ops.partition(_._3)
      if (traced.isEmpty || plain.isEmpty) None
      else Some(Stats.median(traced.map(_._2).toSeq) -
        Stats.median(plain.map(_._2).toSeq))
    }
    val overhead = if (perKind.isEmpty) 0.0 else Stats.median(perKind)
    val counts = Counts.map(k => k -> out.counts.getOrElse(k, 0.0))
    (calls ++ counts :+ ("trace_overhead_s" -> overhead)).toMap
  }

  /** Share of the traced operations' wall covered by top-level spans. */
  def coverage(tracer: Tracer, out: Outcome): Double = {
    val tops = tracer.closed.filter(_.parent < 0)
    val wall = out.opWalls.filter(_._3).map(_._2).sum
    if (wall <= 0) 0.0
    else tops.map(_.wallS).sum / wall
  }
}
