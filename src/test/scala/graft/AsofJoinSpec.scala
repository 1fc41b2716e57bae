package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.AsofJoin

/** Top-level fixture rows (encoder requirement). */
case class AsofLeft(k: Long, ts: Timestamp, lval: String)
case class AsofRight(k: Long, ts: Timestamp, rval: Long)

/** As-of join: hand-computed golden on a tiny fixture (boundary equality,
  * no-match-yet, key isolation) plus shape checks on the q37 entry. */
class AsofJoinSpec extends SparkSpecBase {

  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("backward as-of: latest right at-or-before each left row, per key") {
    val left = Seq(
      AsofLeft(1, t("2024-01-01 10:00:00"), "a"), // before any right → null
      AsofLeft(1, t("2024-01-01 11:00:00"), "b"), // equal ts → matches r10
      AsofLeft(1, t("2024-01-01 12:30:00"), "c"), // between → r10
      AsofLeft(1, t("2024-01-01 13:30:00"), "d"), // after both → r20
      AsofLeft(2, t("2024-01-01 23:00:00"), "e")  // other key → r99 only
    ).toDF()
    val right = Seq(
      AsofRight(1, t("2024-01-01 11:00:00"), 10),
      AsofRight(1, t("2024-01-01 13:00:00"), 20),
      AsofRight(2, t("2024-01-01 09:00:00"), 99)
    ).toDF()
    val got = AsofJoin.asofJoin(left, right, "k", "ts", Seq("rval"))
      .orderBy("k", "ts")
      .collect()
      .map(r => (r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.toSeq == Seq(
      ("a", -1L), ("b", 10L), ("c", 10L), ("d", 20L), ("e", 99L)))
  }

  test("left rows and columns are preserved (left-join semantics)") {
    val left = Seq(AsofLeft(7, t("2024-01-01 00:00:00"), "x")).toDF()
    val right = Seq.empty[AsofRight].toDF()
    val out = AsofJoin.asofJoin(left, right, "k", "ts", Seq("rval"))
    assert(out.columns.toSeq == Seq("k", "ts", "lval", "rval"))
    val row = out.collect().head
    assert(row.getString(2) == "x" && row.isNullAt(3))
  }

  test("q37: every event row appears exactly once, matched orders exist") {
    val out = AsofJoin.q37AsofJoin(spark, sf).collect()
    val nEvents = graft.Tables.events(spark, sf).count()
    assert(out.length == nEvents)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    // fixture: all orders predate all events → every event matches
    assert(out.forall(!_.isNullAt(2)))
  }
}
