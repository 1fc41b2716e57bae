package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Snapshot diff / CDC apply over bucketed snapshots: the claim is a
  * PLAN property — diffing two co-bucketed versions must not shuffle
  * either side — plus result equality with the plain read, and the
  * diff/apply round trip. */
class BucketingSpec extends SparkSpecBase {

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** `bucketBy(buckets, key)` managed table, pre-shuffled onto the
    * bucket hash so each task writes one file per bucket. */
  private def writeBucketed(df: org.apache.spark.sql.DataFrame,
      table: String, key: String, buckets: Int): Unit =
    df.repartition(buckets, df.col(key))
      .write.mode(SaveMode.Overwrite)
      .format("parquet").bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  test("snapshot diff over co-bucketed versions plans with ZERO " +
      "Exchange — the nightly-CDC claim in snapshotDiff's scaladoc, " +
      "measured") {
    val v0 = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderstatus"))
    val v1 = v0.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, "Z")
          .otherwise(col("o_orderstatus")).as("o_orderstatus"))
    writeBucketed(v0, "snap_v0", "o_orderkey", 8)
    writeBucketed(v1, "snap_v1", "o_orderkey", 8)
    try {
      val diff = graft.operators.Relational.snapshotDiff(
        spark.table("snap_v0"), spark.table("snap_v1"),
        "o_orderkey", Seq("o_orderstatus"))
      val p = planOf(diff)
      assert(!p.contains("Exchange"),
        "bucketed snapshot diff still shuffles:\n" + p.take(1200))
      // and the result matches the plain-read diff
      val plain = graft.operators.Relational.snapshotDiff(
          v0, v1, "o_orderkey", Seq("o_orderstatus"))
        .select("o_orderkey", "op").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val bucketed = diff.select("o_orderkey", "op").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(bucketed == plain && bucketed.nonEmpty)
    } finally {
      spark.sql("DROP TABLE IF EXISTS snap_v0")
      spark.sql("DROP TABLE IF EXISTS snap_v1")
    }
  }

  test("applyCdc ∘ snapshotDiff = identity — incl. NULL transitions " +
      "both ways, inserts, deletes, and untouched keys") {
    import spark.implicits._
    import graft.operators.Relational
    val vOld = Seq(
      (1L, Option("A"), Option(10.0)),   // untouched
      (2L, Option("B"), Option(20.0)),   // value update
      (3L, Option("C"), None),           // NULL -> value update
      (4L, None, Option(40.0)),          // value -> NULL update
      (5L, Option("E"), Option(50.0)))   // deleted
      .toDF("k", "status", "price")
    val vNew = Seq(
      (1L, Option("A"), Option(10.0)),
      (2L, Option("B2"), Option(21.0)),
      (3L, Option("C"), Option(30.0)),
      (4L, None, None),
      (6L, Option("F"), Option(60.0)))   // inserted
      .toDF("k", "status", "price")
    val diff = Relational.snapshotDiff(vOld, vNew, "k",
      Seq("status", "price"))
    val rebuilt = Relational.applyCdc(vOld, diff, "k",
      Seq("status", "price"))
      .collect().map(r => (r.getLong(0),
        Option(r.getString(1)), Option(r.get(2)))).toSet
    val want = vNew.collect().map(r => (r.getLong(0),
      Option(r.getString(1)), Option(r.get(2)))).toSet
    assert(rebuilt == want)
  }
}
