package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.EventsOps

/** Gap-fill/resample (`q_events_resample`): grid completeness, fill
  * semantics, and carry-forward correctness on a constructed series
  * with known holes. */
class ResampleSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  // type "a": observed at hours 0 and 3 (gap at 1, 2); type "b":
  // first observed at hour 2 (leading gap at 0, 1), again at hour 4
  private def ev = Seq(
    ("a", "2024-01-01 00:10:00", 10.0),
    ("a", "2024-01-01 00:50:00", 20.0),
    ("a", "2024-01-01 03:05:00", 40.0),
    ("b", "2024-01-01 02:30:00", 7.0),
    ("b", "2024-01-01 04:30:00", 9.0))
    .toDF("event_type", "t", "value")
    .select(col("event_type"), to_timestamp(col("t")).as("ts"), col("value"))

  private lazy val rows = EventsOps.resampleHourlyOf(ev)
    .collect()
    .map(r => (r.getString(1), r.getString(0)) ->
      (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
    .toMap

  test("grid is complete: |types| x |span hours| cells, span 00..04") {
    assert(rows.size == 2 * 5)
    assert(rows.keySet.map(_._2).forall(_.startsWith("2024-01-01")))
  }

  test("observed cells carry exact count and average, filled = false") {
    assert(rows(("a", "2024-01-01 00:00")) == ((2L, Some(15.0), false)))
    assert(rows(("a", "2024-01-01 03:00")) == ((1L, Some(40.0), false)))
    assert(rows(("b", "2024-01-01 02:00")) == ((1L, Some(7.0), false)))
  }

  test("gap cells are zero-count, flagged, and forward-fill the last prior average") {
    assert(rows(("a", "2024-01-01 01:00")) == ((0L, Some(15.0), true)))
    assert(rows(("a", "2024-01-01 02:00")) == ((0L, Some(15.0), true)))
    assert(rows(("b", "2024-01-01 03:00")) == ((0L, Some(7.0), true)))
  }

  test("hours before a type's first observation stay NULL — absent, not zero") {
    assert(rows(("b", "2024-01-01 00:00")) == ((0L, None, true)))
    assert(rows(("b", "2024-01-01 01:00")) == ((0L, None, true)))
  }

  test("half-way hourly averages round half away from zero, exactly") {
    // "h": 0.0001 and 0.0002 average to exactly 0.00015; "s": six
    // values summing to 0.0045 average to exactly 0.00075, which a
    // DOUBLE sum/count represents as 0.0007499999999999999 — so a
    // double round reads 0.0007 where the exact 4dp mean is 0.0008
    val vals = Seq("h" -> 0.0001, "h" -> 0.0002) ++
      Seq(0.001, 0.001, 0.001, 0.001, 0.0004, 0.0001).map("s" -> _)
    val half = vals.map { case (t, v) => (t, "2024-01-01 00:20:00", v) }
      .toDF("event_type", "t", "value")
      .select(col("event_type"), to_timestamp(col("t")).as("ts"), col("value"))
    val avg = EventsOps.resampleHourlyOf(half).collect()
      .map(r => r.getString(1) -> r.getDouble(3)).toMap
    assert(avg == Map("h" -> 0.0002, "s" -> 0.0008))
  }

  test("a series with no gaps emits no filled cells") {
    val dense = Seq(
      ("x", "2024-01-01 00:00:30", 1.0),
      ("x", "2024-01-01 01:00:30", 2.0))
      .toDF("event_type", "t", "value")
      .select(col("event_type"), to_timestamp(col("t")).as("ts"), col("value"))
    val out = EventsOps.resampleHourlyOf(dense).collect()
    assert(out.length == 2 && out.forall(!_.getBoolean(4)))
  }
}
