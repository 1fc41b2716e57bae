package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.load

/** AS-OF JOIN — the classic time-series operator Spark's built-ins lack
  * (SURVEY prompt's canonical example): for each left row, attach the
  * latest right row with `right.ts <= left.ts` for the same key. The
  * training-pipeline shape: join events to the config/dimension snapshot
  * in force at event time.
  *
  * Spark-first composition (preference order (a): compose existing ops —
  * no custom SparkPlan needed): tag both sides, union, ONE window pass
  * per key ordered by (ts, side) with rights sorting before lefts at
  * equal ts (that IS the `<=` semantics), carry the right payload forward
  * with `last(..., ignoreNulls)`, keep left rows.
  *
  * Scale: one shuffle on the key + one within-partition sort — same cost
  * as any windowed query; per-key state during the scan is one carried
  * value. Never builds the range-join pair explosion (left × right per
  * key), and a skewed key degrades to a sort, not a cross product.
  * DuckDB spells this natively as `ASOF JOIN` — which is the oracle.
  */
object AsofJoin {

  /** Generic backward as-of join.
    * @param left      left rows, keep all columns
    * @param right     right rows: key, ts, and `valueCols` to attach
    * @param key       equi-join key column name (same on both sides)
    * @param ts        event-time column name (same type both sides)
    * @param valueCols right columns carried onto each left row
    *
    * Right (key, ts) pairs should be unique (dedupe first) — with
    * duplicates the carried value would be ordering-dependent.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      valueCols: Seq[String]): DataFrame = {
    val l = left.withColumn("__side", lit(1))
    val r = right.select((Seq(key, ts).map(col) ++ valueCols.map(col)): _*)
      .withColumn("__side", lit(0))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // At equal ts, rights sort before lefts → `right.ts <= left.ts`
    // semantics.
    val w = Window.partitionBy(key)
      .orderBy(col(ts).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = valueCols.foldLeft(unioned) { case (df, v) =>
      df.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1).drop("__side")
  }

  /** Q37: each event joined to the latest order of the same customer at
    * or before the event time. Right side deduped to unique
    * (custkey, orderdate) via MAX(orderkey) so the as-of value is
    * tie-free on both engines (D1). */
  def q37AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val ord = load(spark, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"),
        col("o_orderdate").as("ts"))
      .agg(max(col("o_orderkey")).as("asof_ok"))
    asofJoin(ev, ord, "user_id", "ts", Seq("asof_ok"))
      .select(col("event_id"), col("user_id"), col("asof_ok"))
      .orderBy("event_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q37_asof_join" -> (q37AsofJoin _),
  )

  val oracle: Map[String, String] = Map(
    "q37_asof_join" ->
      """SELECT e.event_id, e.user_id, o.asof_ok
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey AS user_id, o_orderdate AS ts,
        |    MAX(o_orderkey) AS asof_ok
        |  FROM orders GROUP BY o_custkey, o_orderdate) o
        |ON e.user_id = o.user_id AND e.ts >= o.ts
        |ORDER BY e.event_id""".stripMargin,
  )
}
