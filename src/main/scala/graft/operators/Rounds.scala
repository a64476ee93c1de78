package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftx.CheckpointUtils

/** The round loop shared by the checkpoint-per-round operators in
  * [[Graph]]. Each operator writes only its step; the loop owns the rest.
  *
  * Contract of [[iterate]]:
  *
  *  - Materialisation. `init` (round 0) and every plan `step` returns go
  *    through `localCheckpoint`, which truncates lineage each round (an
  *    iterative DataFrame loop otherwise compounds its plan until analysis
  *    dominates). The optional `signature` aggregates ride that same job as
  *    `observe()` metrics, so reading them costs no extra job.
  *  - Lifecycle. A round's checkpoint is freed once the next round is
  *    materialised, so the loop holds one working copy, not `rounds`
  *    copies. Frames the step hands to [[Round.scratch]] are freed at the
  *    same point. Any other frame the step checkpoints (frontiers, per-round
  *    outputs it keeps) belongs to the caller; with `keepRounds` the round
  *    frames themselves belong to the caller too, and the loop frees none.
  *    The returned frame is the caller's to free.
  *  - Fixpoint. After every materialised round, round 0 included, `stop`
  *    decides. The default stops when the signature equals the previous
  *    round's, which is sound only for a signature that fingerprints the
  *    state; a progress measure (an active count, a frontier size) can
  *    repeat while the state moves, so such callers pass their own test.
  *    A step that returns the frame it was given declares that frame a
  *    fixpoint: the loop ends, converged, without another job. A null
  *    signature value on a round that holds rows throws, so a sum that
  *    overflowed to null can never read as "unchanged".
  *  - Budget. At most `maxRounds` steps run. `converged` is false when the
  *    budget ran out first; what that means (a warning, `-1` sentinels,
  *    partial labels) is each operator's documented contract.
  */
object Rounds {

  /** One materialised round, as `stop` and `step` see it. `signature`
    * holds the observed values in `signature` order (empty without one).
    */
  final class Round private[Rounds] (val frame: DataFrame, val index: Int,
      val signature: Row, previous: Option[Row]) {
    private[Rounds] val scratchFrames = ArrayBuffer.empty[DataFrame]

    /** Registers a checkpoint the next round's plan reads but nothing
      * needs once that round is materialised; returns it unchanged.
      */
    def scratch(df: DataFrame): DataFrame = { scratchFrames += df; df }

    /** The signature equals the previous round's. */
    def repeated: Boolean =
      signature.length > 0 && previous.contains(signature)
  }

  /** `frame` is the last materialised round, `rounds` the number of steps
    * taken, `signatures` every materialised round's signature from round 0.
    */
  final case class Result(frame: DataFrame, rounds: Int, converged: Boolean,
      signatures: Vector[Row])

  /** `plan.localCheckpoint()` with `signature` observed on the same job.
    * Returns the checkpoint and the observed values in `signature` order.
    * Throws if a value is null while the frame holds rows.
    */
  def checkpoint(plan: DataFrame, signature: Seq[Column]): (DataFrame, Row) = {
    if (signature.isEmpty) return (plan.localCheckpoint(), Row.empty)
    val obs = Observation()
    val named = signature.zipWithIndex.map { case (c, i) => c.as(s"s$i") }
    val cp = plan.observe(obs, count(lit(1)).as("rows"), named: _*)
      .localCheckpoint()
    val m = obs.get
    val sig = Row.fromSeq(signature.indices.map(i => m(s"s$i")))
    val rows = m("rows").asInstanceOf[Long]
    if (rows > 0 && sig.anyNull)
      throw new IllegalStateException(s"round signature $sig has a null " +
        s"over $rows rows (an overflowed aggregate?); a null cannot prove " +
        "a fixpoint")
    (cp, sig)
  }

  def iterate(init: DataFrame, maxRounds: Int,
      signature: Seq[Column] = Nil,
      stop: Round => Boolean = _.repeated,
      keepRounds: Boolean = false)(step: Round => DataFrame): Result = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val (f0, s0) = checkpoint(init, signature)
    var cur = new Round(f0, 0, s0, None)
    var sigs = Vector(s0)
    var steps = 0
    var converged = stop(cur)
    while (!converged && steps < maxRounds) {
      val plan = step(cur)
      steps += 1
      if (plan eq cur.frame) converged = true
      else {
        val (f, s) = checkpoint(plan, signature)
        if (!keepRounds) CheckpointUtils.unpersistLocalCheckpoint(cur.frame)
        cur.scratchFrames.foreach(CheckpointUtils.unpersistLocalCheckpoint)
        cur = new Round(f, sigs.size, s, Some(cur.signature))
        sigs :+= s
        converged = stop(cur)
      }
    }
    cur.scratchFrames.foreach(CheckpointUtils.unpersistLocalCheckpoint)
    Result(cur.frame, steps, converged, sigs)
  }
}
