package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Lateness

class LatenessSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("planted out-of-order arrivals land in the right lateness buckets") {
    // arrival order (event_id): t0, t0+2h, then three stragglers
    val events = Seq(
      (1L, ts("2024-06-01 10:00:00")),  // on time
      (2L, ts("2024-06-01 12:00:00")),  // on time, raises hwm
      (3L, ts("2024-06-01 11:59:30")),  // 30 s late
      (4L, ts("2024-06-01 11:30:00")),  // 30 min late
      (5L, ts("2024-06-01 09:00:00")))  // 3 h late
      .toDF("event_id", "ts")
    val out = Lateness.latenessProfile(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("a_on_time")._1 == 2)
    assert(out("b_1min") == ((1L, 30L)))
    assert(out("c_1hour") == ((1L, 1800L)))
    assert(out("e_later") == ((1L, 10800L)))
    assert(!out.contains("d_2hours"))
  }

  test("distributed hwm is partition-count invariant and never global") {
    // stragglers deliberately straddle range-partition boundaries so the
    // broadcast prefix maxima — not window locality — must supply the hwm
    val events = (1L to 200L).map { i =>
      val base = ts("2024-06-01 10:00:00").getTime
      // event time mostly advances with arrival, but every 17th event is
      // an hour-old straggler
      val t = if (i % 17 == 0) base + (i - 60) * 60000L else base + i * 60000L
      (i, new Timestamp(t))
    }.toDF("event_id", "ts")
    val ref = Lateness.latenessProfile(events, nPartitions = 1)
      .orderBy("bucket").collect().map(_.toSeq).toSeq
    for (n <- Seq(3, 32)) {
      val got = Lateness.latenessProfile(events, nPartitions = n)
        .orderBy("bucket").collect().map(_.toSeq).toSeq
      assert(got == ref, s"nPartitions=$n diverged")
    }
    // and the plan never moves all rows to one window task (the
    // lineage escape hatch keeps Settle.shared from checkpointing the
    // result, which would hide the window from executedPlan)
    System.setProperty(Settle.LineageProp, "true")
    try {
      val plan = Lateness.latenessProfile(events, nPartitions = 3)
        .queryExecution.executedPlan.toString
      // the hwm window itself must be keyed on _pid (the ungrouped
      // TOTAL count legitimately funnels map-side partials to one row —
      // that SinglePartition exchange carries ≤1 row per partition)
      assert(plan.contains("windowspecdefinition(_pid"),
        s"hwm window is not partition-local:\n$plan")
    } finally System.clearProperty(Settle.LineageProp)
  }

  test("null-timestamp ranges do not crash the control-plane collect") {
    // few rows over many range partitions → some partitions hold ONLY a
    // null-ts row; their NULL max must fold away instead of NPE-ing
    val events = Seq(
      (1L, ts("2024-06-01 10:00:00")),
      (2L, null.asInstanceOf[Timestamp]),
      (3L, ts("2024-06-01 09:30:00")),
      (4L, null.asInstanceOf[Timestamp]))
      .toDF("event_id", "ts")
    val out = Lateness.latenessProfile(events, nPartitions = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // row 3 is 30 min late; null-ts rows null-propagate into e_later
    // (the pre-r14 global-window behavior, unchanged)
    assert(out("a_on_time") == 1L)
    assert(out("c_1hour") == 1L)
    assert(out("e_later") == 2L)
  }

  test("fixture feed is event-time ordered: everything on time (measured)") {
    val out = Lateness.qLatenessProfile(spark, sf).collect()
    assert(out.length == 1 && out.head.getString(0) == "a_on_time",
      "the fixture generator emits in event-time order — if this fails, " +
        "the generator changed and the 2h watermark assumption needs review")
    assert(out.head.getLong(3) == 1000L)
  }
}
