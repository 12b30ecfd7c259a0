package graft.pipeline

import java.sql.Timestamp

import graft.SharedSpark
import graft.gates.TemporalGates.Temporal8hUs
import org.scalatest.funsuite.AnyFunSuite

/**
 * As-of join and gap sessionization: hand-computed goldens on an
 * adversarial micro-fixture (equal-timestamp ties, probe-before-ref
 * users, single-event sessions) plus the plan contract — exactly ONE
 * shuffle for the as-of join (the scalable union+window shape; a
 * range-join rewrite would show two exchanges + a join).
 */
class TemporalSpec extends AnyFunSuite with SharedSpark {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  // (event_id, user_id, ts, event_type, value)
  private def fixture = {
    val rows = Seq(
      // user 1: click(10) click(20) purchase(20) purchase(25) click(30) purchase(40)
      (1L, 1L, ts(10), "click", 1.0),
      (2L, 1L, ts(20), "click", 2.0),
      (3L, 1L, ts(20), "purchase", 10.0), // tie: ref at SAME ts wins ("at or before")
      (4L, 1L, ts(25), "purchase", 11.0),
      (5L, 1L, ts(30), "click", 3.0),
      (6L, 1L, ts(40), "purchase", 12.0),
      // user 2: purchase before any click -> null ref
      (7L, 2L, ts(5), "purchase", 20.0),
      (8L, 2L, ts(9), "click", 4.0),
      (9L, 2L, ts(100), "purchase", 21.0),
      // user 3: other types must not leak in as refs
      (10L, 3L, ts(1), "view", 9.0),
      (11L, 3L, ts(2), "purchase", 30.0))
    spark.createDataFrame(rows).toDF("event_id", "user_id", "ts", "event_type", "value")
  }

  test("asOfJoin golden: ties at equal ts, missing refs, type isolation") {
    val out = Temporal.asOfJoin(fixture, "purchase", "click")
      .orderBy("event_id")
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(out.toSeq == Seq(
      (3L, Some(2L), Some(200L)),  // ref at same ts
      (4L, Some(2L), Some(200L)),
      (6L, Some(5L), Some(300L)),
      (7L, None, None),            // purchase precedes first click
      (9L, Some(8L), Some(400L)),
      (11L, None, None)))          // 'view' is not a ref
  }

  test("asOfJoin plan: one shuffle, one window pass, no join operator") {
    // AQE wraps the plan, so count operators in the plan string (the
    // executedPlan's collect doesn't descend into AdaptiveSparkPlan)
    val plan = Temporal.asOfJoin(fixture, "purchase", "click")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
    assert(!plan.toLowerCase.contains("join"), "as-of must not plan a join")
  }

  test("sessionize golden: gap breaks, single-event sessions, purchase counts") {
    // gap = 10s
    val out = Temporal.sessionize(fixture, gapUs = 10L * 1000000)
      .orderBy("user_id", "session_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // user 1: all events within 10s gaps -> one session of 6
    // user 2: (5,9) then 100 -> two sessions
    // user 3: (1,2) -> one session
    assert(out.toSeq == Seq(
      (1L, 1L, 6L, 10000000L, 40000000L, 3900L, 3L),
      (2L, 1L, 2L, 5000000L, 9000000L, 2400L, 1L),
      (2L, 2L, 1L, 100000000L, 100000000L, 2100L, 1L),
      (3L, 1L, 2L, 1000000L, 2000000L, 3900L, 1L)))
  }

  test("sessionize session count at sf0.001 is stable and 1-indexed") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val sess = Temporal.sessionize(ev, Temporal8hUs).cache()
    try {
      val n = sess.count()
      assert(n > 0)
      val minIdx = sess.agg(org.apache.spark.sql.functions.min("session_idx")).head().getLong(0)
      assert(minIdx == 1L)
    } finally sess.unpersist()
  }
}
