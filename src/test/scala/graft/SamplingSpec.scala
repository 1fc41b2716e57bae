package graft

import graft.Tables.load
import graft.operators.Sampling

/** Deterministic sampling: stability, rate, and weighted-sample laws. */
class SamplingSpec extends SparkSpecBase {

  private lazy val docs = load(spark, sf, "documents")

  test("sample is deterministic across runs and plans") {
    val a = Sampling.deterministicSample(docs, "doc_id", 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(docs.repartition(13), "doc_id", 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("sample rate ≈ buckets/16") {
    val n = docs.count().toDouble
    val k = Sampling.deterministicSample(docs, "doc_id", 4).count().toDouble
    assert(math.abs(k / n - 0.25) < 0.1, s"rate ${k / n}")
  }

  test("md5Bucket20 stays in [0, 2^20) and is a pure key function") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val b = (1L to 2000L).toDF("k")
      .select(Sampling.md5Bucket20(col("k")).as("b"))
      .collect().map(_.getLong(0))
    assert(b.forall(x => x >= 0 && x < (1L << 20)))
    // uniformity sanity: both halves populated
    assert(b.count(_ < (1L << 19)) > 500 && b.count(_ >= (1L << 19)) > 500)
  }

  test("q103 weighted sampling is deterministic and weight-monotone: " +
      "raising every weight only ADDS rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def kept(scale: Long) = {
      val rows = (1L to 3000L).map(k => (k, 1L + (k % 100) * scale))
      val df = rows.toDF("k", "w")
      val mx = rows.map(_._2).max
      df.filter(Sampling.md5Bucket20(col("k")) * mx <
          col("w") * (1L << 20))
        .collect().map(_.getLong(0)).toSet
    }
    val a1 = kept(1L); val a2 = kept(1L)
    assert(a1 == a2)
    // per-row keep probability w/max is unchanged by scaling all
    // weights, but adding a constant raises low-weight odds:
    val rows = (1L to 3000L).map(k => (k, 1L + (k % 100)))
    val mx = rows.map(_._2).max
    val dfLow = rows.toDF("k", "w")
    val low = dfLow.filter(Sampling.md5Bucket20(col("k")) * mx <
      col("w") * (1L << 20)).collect().map(_.getLong(0)).toSet
    val high = dfLow.filter(Sampling.md5Bucket20(col("k")) * (mx + 50) <
      (col("w") + 50) * (1L << 20)).collect().map(_.getLong(0)).toSet
    assert(low.subsetOf(high))
  }

  test("q139: largest-remainder apportionment sums to exactly 10000 bp " +
      "and every source appears once") {
    val rows = graft.operators.Sampling.q139TemperatureMix(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    assert(rows.map(_.getLong(3)).sum == 10000L,
      "alloc_bp must apportion the full 10000 basis points exactly")
    // floor shares alone under-allocate; the remainder distribution
    // never hands any source more than floor + 1
    rows.foreach { r =>
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 10000L)
    }
  }

  test("q164 A/B readout == driver recomputation; assignment is a " +
      "pure function of custkey") {
    import org.apache.spark.sql.functions._
    val orders = load(spark, sf, "orders")
      .select(col("o_orderpriority"), col("o_custkey"),
        graft.Tables.dec(col("o_totalprice")).as("p")).collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).movePointRight(2).longValueExact()))
    def variant(ck: Long): Char = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(ck.toString.getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString
      if (hex.charAt(0) < '8') 'T' else 'C'
    }
    val byArm = orders.groupBy(o => (o._1, variant(o._2)))
      .view.mapValues(os => (os.length.toLong, os.map(_._3).sum))
      .toMap
    val got = Sampling.q164AbReadout(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val prio = r.getString(0)
      val (nt, st) = byArm((prio, 'T'))
      val (nc, sc) = byArm((prio, 'C'))
      assert(r.getLong(1) == nt && r.getLong(2) == nc, prio)
      val meanT = st.toDouble / nt.toDouble / 100
      val meanC = sc.toDouble / nc.toDouble / 100
      assert(math.abs(r.getDouble(3) - meanT) < 1e-9)
      assert(math.abs(r.getDouble(4) - meanC) < 1e-9)
      // uplift replays exactly (same double op sequence); no
      // statistical bound — at sf0.001 the ~150-order arms carry
      // >10% sampling noise, which is the readout's JOB to surface
      assert(math.abs(r.getDouble(5) -
        (meanT / meanC - 1.0) * 1000000) < 1e-6, prio)
    }
  }
}
