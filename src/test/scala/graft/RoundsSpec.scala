package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Rounds

/** The round-loop contract of [[Rounds.iterate]]: loud signatures, the
  * round budget, and one working copy however many rounds run.
  */
class RoundsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withAnsi[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a signature that reads null on a non-empty round throws; an empty " +
    "round may observe null") {
    // with ANSI off, a DECIMAL(38,0) sum that overflows reads null — the
    // value a coalesce(…, 0) once turned into a false fixpoint
    val one = Seq("60000000000000000000000000000000000000").toDF("s")
      .select(col("s").cast("decimal(38,0)").as("x"))
    val err = withAnsi(on = false) {
      intercept[IllegalStateException] {
        // round 0 holds one row (sum fits); round 1 doubles it (overflow)
        Rounds.iterate(one, 3, signature = Seq(sum(col("x"))))(r =>
          r.frame.unionByName(r.frame))
      }
    }
    assert(err.getMessage.contains("null"), err.getMessage)
    // no rows: the null sum is no overflow, and it repeats into a fixpoint
    val empty = Rounds.iterate(one.limit(0), 3,
      signature = Seq(sum(col("x"))))(_.frame.select(col("x")))
    assert(empty.converged && empty.rounds == 1)
    assert(empty.signatures.forall(_.isNullAt(0)))
  }

  test("without a signature the loop runs exactly maxRounds rounds and " +
    "reports converged = false when the stop test never fires") {
    var steps = 0
    var stopCalls = 0
    val res = Rounds.iterate(spark.range(3).toDF("id"), 4,
        stop = _ => { stopCalls += 1; false }) { r =>
      steps += 1
      r.frame.select((col("id") + 1).as("id"))
    }
    assert(steps == 4 && res.rounds == 4 && !res.converged)
    // the stop test saw round 0 and each of the four rounds
    assert(stopCalls == 5)
    assert(res.signatures.size == 5 && res.signatures.forall(_.length == 0))
    assert(res.frame.as[Long].collect().sorted.toSeq == Seq(4L, 5L, 6L))
    // a step that hands back its input declares the fixpoint
    val same = Rounds.iterate(spark.range(3).toDF("id"), 4)(_.frame)
    assert(same.converged && same.rounds == 1 && same.signatures.size == 1)
  }

  test("after iterate returns, only the returned frame's checkpoint is " +
    "still persisted: one working copy, not one per round") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val res = Rounds.iterate(spark.range(50).toDF("id"), 6,
        signature = Seq(count(lit(1))), stop = _ => false) { r =>
      // a checkpoint the next round reads, freed once it is materialised
      val half = r.scratch(r.frame.filter(col("id") % 2 === 0)
        .localCheckpoint())
      r.frame.join(half, Seq("id"), "left_anti")
        .unionByName(half)
        .select((col("id") + 1).as("id"))
    }
    assert(res.rounds == 6)
    val added = persisted -- before
    assert(added.size <= 1, s"still persisted after the loop: $added")
    org.apache.spark.sql.graftx.CheckpointUtils
      .unpersistLocalCheckpoint(res.frame)
    assert(persisted == before)
  }
}
