package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamOps

/** Top-level so Spark can generate its encoder. */
case class Ev(ts: Timestamp, event_type: String, value: Double,
    user_id: Long)

/** Streaming document row for the near-dedup test. */
case class SDoc(ts: Timestamp, text: String)

/** Streaming document row with an id — incremental-dedup twin test. */
case class IDoc(ts: Timestamp, doc_id: Long, text: String)

/** Streaming document row with card dimensions (corpus-report test). */
case class SRep(ts: Timestamp, text: String, lang: String, source: String)

/** Event row with an id — stream-stream interval-join test. */
case class EvI(ts: Timestamp, event_type: String, value: Double,
    user_id: Long, event_id: Long)

/** Streaming semantics (SURVEY §2-B Q35): batch≡stream equivalence for
  * tumbling windows, late-data drop past the watermark, session windows,
  * streaming dedup, and the foreachBatch at-least-once file sink (the
  * Spark-native E2 path). MemoryStream replaces Kafka per SURVEY §5. */
class StreamingSpec extends SparkSpecBase {

  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def runAvailableNow(df: org.apache.spark.sql.DataFrame,
      name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory(s"ckpt-$name").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name)
  }

  test("tumbling window: streaming result ≡ batch groupBy result (Q27 twin)") {
    val input = MemoryStream[Ev](spark)
    val events = Seq(
      Ev(ts(5), "a", 1.0, 1), Ev(ts(10), "a", 2.0, 1),
      Ev(ts(35), "b", 3.0, 2), Ev(ts(40), "a", 4.0, 2),
      // watermark pusher: far-future event closes all earlier windows
      Ev(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9))
    input.addData(events: _*)
    val streamed = runAvailableNow(
      StreamOps.tumblingCounts(input.toDF(), watermark = "1 minute",
        width = "30 minutes"), "tumbling")
      .filter(col("event_type") =!= "z")
      .orderBy("w", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).toPlainString))
    val batch = events.toDF()
      .filter(col("event_type") =!= "z")
      .groupBy(StreamOps.batchTumblingCounts(events.toDF(), 1800).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .orderBy("w", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).toPlainString))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("late data beyond the watermark is dropped") {
    val input = MemoryStream[Ev](spark)
    val df = StreamOps.tumblingCounts(input.toDF(), watermark = "1 minute",
      width = "30 minutes")
    val q = df.writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    try {
      // first micro-batch advances the watermark to 11:59
      input.addData(
        Ev(ts(5), "a", 1.0, 1),
        Ev(Timestamp.valueOf("2024-01-01 12:00:00"), "advance", 0.0, 9))
      q.processAllAvailable()
      // a record far behind the watermark arrives → must be dropped
      input.addData(Ev(ts(6), "a", 100.0, 1))
      q.processAllAvailable()
      val rows = spark.table("late")
        .filter(col("event_type") === "a").collect()
      // the 10:00-10:30 window closed with only the on-time event
      assert(rows.length == 1 && rows.head.getAs[Long]("cnt") == 1L)
    } finally q.stop()
  }

  test("session windows group by gap") {
    val input = MemoryStream[Ev](spark)
    input.addData(
      Ev(ts(0), "a", 1.0, 1), Ev(ts(5), "a", 1.0, 1),  // session 1
      Ev(ts(50), "a", 1.0, 1),                          // session 2 (gap>30m)
      Ev(Timestamp.valueOf("2024-01-01 14:00:00"), "z", 0.0, 9))
    val out = runAvailableNow(
      StreamOps.sessionCounts(input.toDF(), gap = "30 minutes",
        watermark = "1 minute"), "sessions")
      .filter(col("user_id") === 1).orderBy("s").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("cnt") == 2L && out(1).getAs[Long]("cnt") == 1L)
  }

  test("stream-stream inner join: time-bounded, watermark-evicted state") {
    // clicks join views of the same user within the preceding 10 minutes
    // — the canonical stream-stream join shape: both sides watermarked,
    // the time-range condition bounds join state so eviction is possible.
    val clicks = MemoryStream[Ev](spark)
    val views = MemoryStream[Ev](spark)
    clicks.addData(
      Ev(ts(20), "click", 1.0, 1), // joins the 10:15 view (in window)
      Ev(ts(40), "click", 2.0, 1), // no view within [10:30, 10:40]
      Ev(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9))
    views.addData(
      Ev(ts(15), "view", 7.0, 1),
      Ev(ts(25), "view", 8.0, 1),  // after the 10:20 click → excluded
      Ev(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9))
    val l = clicks.toDF()
      .select(col("user_id"), col("ts").as("cts"), col("value").as("cv"))
      .withWatermark("cts", "10 minutes")
    val r = views.toDF()
      .select(col("user_id").as("v_uid"), col("ts").as("vts"),
        col("value").as("vv"))
      .withWatermark("vts", "10 minutes")
    val joined = l.join(r,
      col("user_id") === col("v_uid") &&
        col("vts") >= col("cts") - expr("interval 10 minutes") &&
        col("vts") <= col("cts"))
      .select("user_id", "cts", "vts", "cv", "vv")
    val out = runAvailableNow(joined, "ssjoin")
      .filter(col("user_id") === 1).collect()
      .map(r => (r.getDouble(3), r.getDouble(4))).toSet
    // the 10:20 click pairs with the 10:15 view only; the 10:40 click
    // finds nothing in its window; the 10:25 view postdates the click
    assert(out == Set((1.0, 7.0)))
  }

  test("stream-stream LEFT OUTER join: unmatched lefts are withheld " +
      "until watermark eviction, then emitted with nulls") {
    // the large-pipeline shape the inner-join test doesn't cover: outer
    // rows can only be emitted when the right-side watermark proves no
    // future match is possible — i.e. when state for the left row is
    // EVICTED. Two AvailableNow runs over one checkpoint make the
    // eviction observable: run 1 emits only the matched pair; run 2
    // (watermark advanced by later data) flushes the unmatched left.
    val clicks = MemoryStream[Ev](spark)
    val views = MemoryStream[Ev](spark)
    clicks.addData(
      Ev(ts(5), "click", 2.0, 1),  // no view in [9:55, 10:05] → unmatched
      Ev(ts(20), "click", 1.0, 1)) // joins the 10:15 view
    views.addData(Ev(ts(15), "view", 7.0, 1))
    val l = clicks.toDF()
      .select(col("user_id"), col("ts").as("cts"), col("value").as("cv"))
      .withWatermark("cts", "10 minutes")
    val r = views.toDF()
      .select(col("user_id").as("v_uid"), col("ts").as("vts"),
        col("value").as("vv"))
      .withWatermark("vts", "10 minutes")
    val joined = l.join(r,
      col("user_id") === col("v_uid") &&
        col("vts") >= col("cts") - expr("interval 10 minutes") &&
        col("vts") <= col("cts"),
      "left_outer")
      .select("user_id", "cts", "cv", "vv")
    val ckpt = Files.createTempDirectory("ckpt-ssoj").toString
    // memory sink can't recover from a checkpoint; foreachBatch can
    // (the FilePipeline path) — collect each run's emissions per batch
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[
      (Double, Double)]()
    def run(): Set[(Double, Double)] = {
      emitted.clear()
      val q = joined.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.filter(col("user_id") === 1).collect().foreach(r =>
            emitted.add((r.getDouble(2),
              if (r.isNullAt(3)) -1.0 else r.getDouble(3))))
          ()
        }
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      emitted.asScala.toSet
    }
    // matched pair emits immediately; the unmatched 10:05 click is
    // withheld — its state is still live (watermark hasn't passed it)
    val out1 = run()
    assert(out1 == Set((1.0, 7.0)), s"run1: $out1")
    // later data advances both watermarks far past the join window …
    clicks.addData(Ev(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9))
    views.addData(Ev(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9))
    val out2 = run()
    // … so eviction emits the unmatched left exactly once, with nulls
    assert(out2 == Set((2.0, -1.0)), s"run2: $out2")
  }

  test("dropDuplicatesWithinWatermark removes stream duplicates") {
    val input = MemoryStream[Ev](spark)
    input.addData(
      Ev(ts(1), "dup", 1.0, 7), Ev(ts(1), "dup", 1.0, 7),
      Ev(ts(2), "dup", 1.0, 7),
      Ev(Timestamp.valueOf("2024-01-01 11:00:00"), "z", 0.0, 9))
    val out = runAvailableNow(
      StreamOps.dedupWithinWatermark(input.toDF(),
        Seq("ts", "event_type", "user_id"), watermark = "10 minutes"),
      "dedupstream")
      .filter(col("event_type") === "dup").collect()
    assert(out.length == 2) // the exact ts(1) duplicate collapsed
  }

  test("streaming near-dup filter: simhash collisions within the " +
      "watermark are dropped, distinct docs survive") {
    val input = MemoryStream[SDoc](spark)
    input.addData(
      SDoc(ts(1), "the quick brown fox jumps over the lazy dog"),
      SDoc(ts(3), "the quick brown fox jumps over the lazy dog"), // dup
      SDoc(ts(5), "an entirely different document about spark engines"),
      SDoc(Timestamp.valueOf("2024-01-01 11:00:00"), "flush marker row"))
    val out = runAvailableNow(
      StreamOps.nearDedupWithinWatermark(input.toDF(),
        watermark = "10 minutes"), "neardedupstream")
      .filter(col("ts") < Timestamp.valueOf("2024-01-01 10:30:00"))
      .collect()
    // signature state collapses the re-arrival; both distinct docs pass
    assert(out.length == 2, out.mkString(", "))
    assert(out.map(_.getString(1)).toSet.size == 2)
  }

  test("streaming corpus prep: quality/repetition filters, watermarked " +
      "exact dedup, and broadcast decontamination match the batch chain") {
    val clean1 = "the quick brown fox jumps over the lazy dog tonight"
    val clean2 = "one two three four five six seven eight nine ten"
    val repetitive = "a b a b a b a b a b"           // 9 bigrams, 2 distinct
    val contaminated = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      SDoc(ts(1), "too short doc"),                  // quality-dropped
      SDoc(ts(2), repetitive),                       // repetition-dropped
      SDoc(ts(3), clean1),
      SDoc(ts(4), clean1),                           // exact dup, dropped
      SDoc(ts(5), contaminated),                     // overlaps bench
      SDoc(ts(6), clean2),
      SDoc(Timestamp.valueOf("2024-01-01 11:00:00"),
        "flush marker far future row closing every earlier state window"))
    val bench = Seq("alpha beta gamma delta epsilon zeta").toDF("text")
    val input = MemoryStream[SDoc](spark)
    input.addData(docs: _*)
    val out = runAvailableNow(
      StreamOps.corpusPrepStream(input.toDF(), bench, minWords = 5,
        maxDupBigramBp = 5000, minOverlap = 2, watermark = "10 minutes"),
      "corpusprep")
      .filter(col("ts") < Timestamp.valueOf("2024-01-01 10:30:00"))
      .collect().map(_.getString(1)).toSet
    assert(out == Set(clean1, clean2))
    // batch reference: same stage semantics on the same rows
    val batchDocs = docs.toDF()
      .withColumn("doc_id", monotonically_increasing_id())
    val batch = graft.operators.Dedup.decontaminate(
      graft.operators.CorpusPrep.repetitionMetrics(
        batchDocs.filter(size(split(col("text"), " ")) >= 5), 5000)
        .filter(col("kept") === 1L)
        .join(batchDocs, "doc_id")
        .dropDuplicates("text"),
      bench, minOverlap = 2)
      .filter(col("ts") < Timestamp.valueOf("2024-01-01 10:30:00"))
      .select("text").collect().map(_.getString(0)).toSet
    assert(batch == out)
  }

  test("streaming corpus report ≡ batch card per closed window") {
    val docs = Seq(
      SRep(ts(1), "a b c", "en", "s1"),
      SRep(ts(2), "d e", "fr", "s1"),
      SRep(ts(3), "f g h i", "en", "s2"),
      SRep(ts(12), "j k", "en", "s1"),   // second window
      SRep(Timestamp.valueOf("2024-01-01 11:00:00"),
        "flush marker closing all earlier windows", "en", "s9"))
    val input = MemoryStream[SRep](spark)
    input.addData(docs: _*)
    val out = runAvailableNow(
      StreamOps.corpusReportStream(input.toDF()), "corpusreport")
      .filter(col("w_start") < Timestamp.valueOf("2024-01-01 10:30:00"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val w0 = Timestamp.valueOf("2024-01-01 10:00:00")
    val w1 = Timestamp.valueOf("2024-01-01 10:10:00")
    assert(out == Set(
      (w0, "s1", 2L, 5L, 1L),   // "a b c"(en) + "d e"(fr)
      (w0, "s2", 1L, 4L, 1L),
      (w1, "s1", 1L, 2L, 1L)))
  }

  test("streaming SERP dedup ≡ hand-computed per-list collapse " +
      "(q301 twin: foreachBatch over the ONE gated collapse body, " +
      "zero stream state) — incl. a batch where two results share a " +
      "component and a later batch re-ranking the same docs") {
    import spark.implicits._
    val components = Seq((10L, 1L), (11L, 1L), (20L, 2L))
      .toDF("doc_id", "component")
    val input = MemoryStream[(Long, Long, Long)](spark)
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    val q = input.toDF().toDF("orig_rank", "doc_id", "score")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val out = graft.operators.Dedup.serpDedupCollapse(batch,
          components)
        got.synchronized {
          got ++= out.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        }
        ()
      }
      .start()
    try {
      // list 1: docs 10 and 11 share component 1 → 11 collapses
      input.addData((1L, 10L, 90L), (2L, 11L, 80L), (3L, 20L, 70L),
        (4L, 30L, 60L))
      q.processAllAvailable()
      val b1 = got.synchronized(got.toSet)
      assert(b1 == Set(
        (1L, 10L, 1L, 90L, 1L, 2L),   // component 1 kept best, n=2
        (2L, 20L, 3L, 70L, 2L, 1L),
        (3L, 30L, 4L, 60L, 30L, 1L)), // unlabeled = singleton group
        s"batch1: $b1")
      got.synchronized(got.clear())
      // list 2: same component pair arrives REVERSED — stateless
      // serving collapses within the new list only
      input.addData((1L, 11L, 95L), (2L, 10L, 85L))
      q.processAllAvailable()
      val b2 = got.synchronized(got.toSet)
      assert(b2 == Set((1L, 11L, 1L, 95L, 1L, 2L)), s"batch2: $b2")
    } finally q.stop()
  }

  test("streaming incremental cross-corpus dedup ≡ batch crossCorpusDedup " +
      "(q137 twin): vs-corpus near-dups drop statelessly, a CROSS-BATCH " +
      "stream duplicate collapses within the watermark") {
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // near-dup of doc 1 (last word dropped -> jaccard >= 0.5), two
    // novel docs, an exact re-arrival of 102's text in a LATER batch,
    // and a near-dup of doc 2 arriving late in batch 2
    val b1 = Seq(
      IDoc(ts(1), 101L, "alpha beta gamma delta epsilon zeta eta"),
      IDoc(ts(2), 102L, "novel words about spark streaming engines here"))
    val b2 = Seq(
      IDoc(ts(3), 103L, "novel words about spark streaming engines here"),
      IDoc(ts(4), 104L, "completely different content regarding graphs"),
      IDoc(ts(5), 105L, "one two three four five six seven eight nine"),
      IDoc(Timestamp.valueOf("2024-01-01 11:00:00"), 999L,
        "watermark flush marker row payload"))
    val input = MemoryStream[IDoc](spark)
    val df = StreamOps.crossCorpusDedupStream(input.toDF(), existing,
      watermark = "10 minutes")
    val q = df.writeStream.format("memory").queryName("xcstream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-xcstream").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("xcstream").collect()
      .map(_.getAs[Long]("doc_id")).toSet
    // batch twin: first arrivals (103's text already seen in batch 1)
    // through the batch operator
    val firstArrivals = (b1 ++ b2).filterNot(_.doc_id == 103L)
      .map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val batch = graft.operators.Dedup
      .crossCorpusDedupIndexed(
        graft.operators.Dedup.crossCorpusIndexOf(existing), firstArrivals)
      .collect().map(_.getLong(0)).toSet
    assert(batch == Set(102L, 104L, 999L))
    assert(streamed == batch,
      s"stream $streamed != batch $batch")
  }

  test("streaming dedup-rate monitor: per-window (incoming, dropped, " +
      "drop_bp) ≡ the batch readout over the same arrivals — vs-corpus " +
      "near-dups AND a cross-batch duplicate all counted as drops") {
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      IDoc(ts(1), 101L, "alpha beta gamma delta epsilon zeta eta"),
      IDoc(ts(2), 102L, "novel words about spark streaming engines here"))
    val b2 = Seq(
      IDoc(ts(3), 103L, "novel words about spark streaming engines here"),
      IDoc(ts(4), 104L, "completely different content regarding graphs"),
      IDoc(ts(5), 105L, "one two three four five six seven eight nine"),
      IDoc(Timestamp.valueOf("2024-01-01 11:00:00"), 999L,
        "watermark flush marker row payload"))
    val input = MemoryStream[IDoc](spark)
    val df = StreamOps.dedupRateStream(input.toDF(), existing,
      watermark = "10 minutes", windowDur = "10 minutes")
    val q = df.writeStream.format("memory").queryName("dedupratestream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-deduprate").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedupratestream").collect()
      .map(r => (r.getAs[java.time.LocalDateTime]("window_start"),
        r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 1, s"one finalized window expected: ${rows.toSeq}")
    val (_, incoming, dropped, dropBp) = rows.head
    // q235-style batch readout over the same arrivals: survivors =
    // the batch operator on first arrivals (103 is the cross-batch
    // duplicate of 102's text)
    val real = (b1 ++ b2).filterNot(_.doc_id == 999L)
    val firstArrivals = real.filterNot(_.doc_id == 103L)
      .map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
    val batchSurvivors = graft.operators.Dedup
      .crossCorpusDedupIndexed(
        graft.operators.Dedup.crossCorpusIndexOf(existing), firstArrivals)
      .count()
    assert(incoming == real.length.toLong)
    assert(dropped == incoming - batchSurvivors,
      s"dropped $dropped != ${incoming - batchSurvivors}")
    assert(dropBp == (dropped * 10000L) / incoming)
    assert(dropped == 3L, "101 (near-dup), 103 (cross-batch dup), " +
      "105 (near-dup of corpus doc 2) must all be drops")
  }

  test("streaming peak-rate feed ≡ batch q222 readout (q222 twin): " +
      "append-only per-minute counts fold through the SAME peakRollup, " +
      "with the peak minute's events split across two batches") {
    val b1 = Seq(
      Ev(ts(5), "a", 1.0, 1), Ev(ts(5), "a", 1.0, 2),
      Ev(ts(7), "a", 1.0, 3), Ev(ts(5), "b", 1.0, 4))
    val b2 = Seq(
      Ev(ts(5), "a", 1.0, 5), // same minute as batch 1 → state carries
      Ev(ts(9), "b", 1.0, 6),
      // flush marker: pushes the watermark past every real window
      Ev(Timestamp.valueOf("2024-01-01 12:00:00"), "z", 0.0, 9))
    val input = MemoryStream[Ev](spark)
    val df = StreamOps.peakRateStream(input.toDF())
    val q = df.writeStream.format("memory").queryName("peakstream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-peakstream").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val perMinute = spark.table("peakstream")
      .filter(col("event_type") =!= "z")
    // every emitted minute row is final: exactly one row per
    // (type, minute), with the split minute's count merged to 3
    val emitted = perMinute.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(emitted.groupBy(t => (t._1, t._2)).forall(_._2.length == 1),
      "append mode must emit one final row per (type, minute)")
    assert(emitted.filter(_._1 == "a").map(_._3).max == 3L,
      "cross-batch peak minute must merge to one count of 3")
    val streamed = graft.operators.TimeSeries.peakRollup(perMinute)
      .collect().map(_.toSeq)
    val batch = graft.operators.TimeSeries.peakRate(
      (b1 ++ b2).toDF()
        .filter(col("event_type") =!= "z")
        .withColumn("ts_ns", expr("unix_micros(ts) * 1000")))
      .collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.toSeq == batch.toSeq,
      s"stream ${streamed.toSeq} != batch ${batch.toSeq}")
  }

  test("streaming last-touch attribution ≡ batch lastTouchAssign " +
      "(q169 twin): carry-forward state credits a batch-N+1 purchase " +
      "to a batch-N touch; first-purchase-before-any-touch is direct") {
    val b1 = Seq(
      EvI(ts(1), "view", 0.0, 7L, 1L),
      EvI(ts(2), "purchase", 9.99, 7L, 2L),   // credit: view
      EvI(ts(3), "purchase", 5.0, 8L, 3L))    // credit: direct
    val b2 = Seq(
      EvI(ts(4), "purchase", 1.5, 7L, 4L),    // cross-batch: view
      EvI(ts(5), "click", 0.0, 8L, 5L),
      EvI(ts(6), "purchase", 2.5, 8L, 6L))    // credit: click
    val input = MemoryStream[EvI](spark)
    val q = StreamOps.lastTouchStream(input.toDF())
      .writeStream.format("memory").queryName("ltstream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-ltstream").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ltstream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(streamed == Set(
      (7L, 2L, "view", 999L), (8L, 3L, "direct", 500L),
      (7L, 4L, "view", 150L), (8L, 6L, "click", 250L)))
    // batch twin over the union of both batches
    import org.apache.spark.sql.functions.expr
    val batchEv = (b1 ++ b2)
      .toDF()
      .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    val batch = graft.operators.Behavioral.lastTouchAssign(batchEv)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("flatMapGroupsWithState: per-user counts persist across batches") {
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamOps.runningUserCounts(input.toDF())
      .writeStream.format("memory").queryName("usercounts")
      .outputMode("append").start()
    try {
      input.addData(Ev(ts(1), "a", 1.0, 7), Ev(ts(2), "a", 1.0, 7),
        Ev(ts(3), "a", 1.0, 8))
      q.processAllAvailable()
      input.addData(Ev(ts(4), "a", 1.0, 7))
      q.processAllAvailable()
      val rows = spark.table("usercounts")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch1: user7 → 2, user8 → 1; batch2: user7 → 3 (state carried)
      assert(rows == Set((7L, 2L), (8L, 1L), (7L, 3L)))
    } finally q.stop()
  }

  test("RocksDB state store: windowed aggregation runs on RocksDB (100TB state path)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Ev](spark)
      input.addData(
        Ev(ts(5), "a", 1.0, 1), Ev(ts(10), "a", 2.0, 1),
        Ev(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9))
      val out = runAvailableNow(
        StreamOps.tumblingCounts(input.toDF(), watermark = "1 minute",
          width = "30 minutes"), "rocksdbwin")
        .filter(col("event_type") === "a").collect()
      assert(out.length == 1 && out.head.getAs[Long]("cnt") == 2L)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-static as-of join ≡ batch as-of join (verdict r4 item 9)") {
    // Events stream against a static dimension-snapshot table; every
    // event must carry the latest snapshot value at-or-before its ts —
    // same rows as the batch AsofJoin on identical inputs, including
    // events BEFORE any snapshot (null) and exactly-at-snapshot ties.
    val dim = Seq(
      (1L, ts(10), "v10"), (1L, ts(30), "v30"), (2L, ts(20), "w20"))
      .toDF("user_id", "ts", "sval")
    val events = Seq(
      Ev(ts(5), "a", 1.0, 1),  // before any snapshot → null
      Ev(ts(10), "b", 2.0, 1), // tie: inclusive <= → v10
      Ev(ts(25), "c", 3.0, 1), // between → v10
      Ev(ts(45), "d", 4.0, 1), // after last → v30
      Ev(ts(25), "e", 5.0, 2), // other key → w20
      Ev(ts(15), "f", 6.0, 3)) // key with no snapshots → null
    val input = MemoryStream[Ev](spark)
    input.addData(events: _*)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "user_id", "sval").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) "-" else r.getString(2))).toSet
    val streamed = norm(runAvailableNow(
      StreamOps.asofJoinStreamStatic(input.toDF(), dim,
        "user_id", "ts", Seq("sval")), "asof_ss"))
    val batch = norm(graft.operators.AsofJoin.asofJoin(
      events.toDF(), dim, "user_id", "ts", Seq("sval")))
    assert(streamed == batch)
    assert(streamed == Set(("a", 1L, "-"), ("b", 1L, "v10"),
      ("c", 1L, "v10"), ("d", 1L, "v30"), ("e", 2L, "w20"),
      ("f", 3L, "-")))
  }

  test("foreachBatch sink: at-least-once flush-then-commit (K9 parity)") {
    val input = MemoryStream[Ev](spark)
    input.addData(Ev(ts(1), "a", 1.0, 1), Ev(ts(2), "b", 2.0, 2))
    val outDir = Files.createTempDirectory("fb-out")
    val target = outDir.resolve("out.jsonl")
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // flush: append the micro-batch as JSON lines; Spark writes the
        // checkpoint commit only after this returns — the reference's
        // commit-after-flush ordering for free
        val lines = batch.select(col("event_type"), col("value"))
          .collect().map(r => s"""{"t": "${r.getString(0)}"}""")
        Files.write(target,
          (lines.mkString("", "\n", "\n")).getBytes,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-fb").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val written = Files.readAllLines(target)
    assert(written.size == 2)
  }

  test("streaming funnel depth ≡ batch funnelStages (q73 twin), " +
      "state carried across batches, intra-batch disorder repaired") {
    val stages = Seq("signup", "view", "click", "purchase")
    // u1 completes the funnel across TWO batches; u2's view precedes
    // signup (depth stays 1); u3 appears only in batch 2. Batch 1 for
    // u1 is fed OUT of time order (view before signup in the iterator).
    val b1 = Seq(
      Ev(ts(2), "view", 0.0, 1), Ev(ts(1), "signup", 0.0, 1),
      Ev(ts(1), "view", 0.0, 2), Ev(ts(5), "signup", 0.0, 2))
    val b2 = Seq(
      Ev(ts(3), "click", 0.0, 1), Ev(ts(4), "purchase", 0.0, 1),
      Ev(ts(7), "signup", 0.0, 3))
    val withNs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamOps
      .funnelDepthStream(withNs(input.toDF()), stages)
      .writeStream.format("memory").queryName("funneldepth")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-funnel").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // depth is monotone, so each user's final depth = max emission
      val streamed = spark.table("funneldepth")
        .groupBy("user_id").agg(max("stage").as("stage"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Behavioral
        .funnelStages(withNs((b1 ++ b2).toDF()), stages)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      assert(streamed == Map(1L -> 4L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("streaming windowed funnel ≡ batch funnelWindowedStages (q186 " +
      "twin): horizon overflow and chain completion both straddle a " +
      "batch boundary") {
    val stages = Seq("signup", "view", "click", "purchase")
    val horizonNs = 3600L * 1000000000L // 1 h
    // u1: full chain but purchase at minute 70 — 69 min after t0,
    //     OUTSIDE the horizon → windowed depth 3 (chain depth 4); the
    //     overflow event arrives in batch 2.
    // u2: full chain within the hour, split across the two batches.
    // u3: signup only (depth 1); u4: view before signup (depth 0 until
    //     the batch-2 signup → depth 1).
    val b1 = Seq(
      Ev(ts(2), "view", 0.0, 1), Ev(ts(1), "signup", 0.0, 1),
      Ev(ts(3), "click", 0.0, 1),
      Ev(ts(5), "signup", 0.0, 2), Ev(ts(6), "view", 0.0, 2),
      Ev(ts(4), "view", 0.0, 4))
    val b2 = Seq(
      Ev(ts(70), "purchase", 0.0, 1),
      Ev(ts(7), "click", 0.0, 2), Ev(ts(30), "purchase", 0.0, 2),
      Ev(ts(8), "signup", 0.0, 3), Ev(ts(9), "signup", 0.0, 4))
    val withNs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamOps
      .funnelWindowedStream(withNs(input.toDF()), stages, horizonNs)
      .writeStream.format("memory").queryName("wfunnelstream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-wfunnel").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // windowed depth is monotone → final value = max emission
      val streamed = spark.table("wfunnelstream")
        .groupBy("user_id").agg(max("stage").as("stage"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.operators.Behavioral
        .funnelWindowedStages(withNs((b1 ++ b2).toDF()), stages,
          horizonNs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      assert(streamed ==
        Map(1L -> 3L, 2L -> 4L, 3L -> 1L, 4L -> 1L))
    } finally q.stop()
  }

  test("streaming SCD2 ≡ batch closed intervals (q202 twin): a run " +
      "spanning the batch boundary does NOT close at the boundary") {
    // u1: signup(1,2) | view(3), signup(4) — the signup run spans the
    //     batch boundary and must close only at the view; final
    //     signup run stays OPEN (carried state, no emission).
    // u2: view(5) | view(6), click(7) — view run spans the boundary.
    val b1 = Seq(
      Ev(ts(1), "signup", 0.0, 1), Ev(ts(2), "signup", 0.0, 1),
      Ev(ts(5), "view", 0.0, 2))
    val b2 = Seq(
      Ev(ts(3), "view", 0.0, 1), Ev(ts(4), "signup", 0.0, 1),
      Ev(ts(6), "view", 0.0, 2), Ev(ts(7), "click", 0.0, 2))
    val withNs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
        .withColumn("event_id",
          (unix_micros(col("ts")) % 1000000L).cast("long"))
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.StreamOps
      .scd2Stream(withNs(input.toDF()))
      .writeStream.format("memory").queryName("scd2stream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-scd2").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("scd2stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      val batch = graft.operators.Behavioral
        .scd2Intervals(withNs((b1 ++ b2).toDF()))
        .filter(col("valid_to_us").isNotNull)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(streamed == batch && streamed.nonEmpty)
      // the boundary-spanning signup run closed at the VIEW (minute
      // 3), with BOTH its events counted — not at the batch boundary
      assert(streamed.exists { case (u, v, s, _, _, n) =>
        u == 1L && v == 1L && s == "signup" && n == 2L })
    } finally q.stop()
  }

  test("streaming OHLC ≡ batch first/last/min/max per closed window " +
      "(q136 twin)") {
    val events = Seq(
      EvI(ts(1), "a", 5.0, 1, 10), EvI(ts(3), "a", 9.0, 1, 11),
      EvI(ts(2), "a", 1.0, 1, 12), EvI(ts(8), "a", 7.0, 2, 13),
      EvI(ts(35), "b", 4.0, 2, 14), EvI(ts(40), "b", 2.0, 1, 15),
      // watermark pusher closes all earlier 30-min windows
      EvI(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9, 99))
    val withNs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    val input = MemoryStream[EvI](spark)
    input.addData(events: _*)
    val streamed = runAvailableNow(
      StreamOps.ohlcStream(withNs(input.toDF()), width = "30 minutes",
        watermark = "1 minute"), "ohlcstream")
      .filter(col("event_type") =!= "z")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toSet
    val batch = withNs(events.toDF())
      .filter(col("event_type") =!= "z")
      .groupBy(StreamOps.batchTumblingCounts(events.toDF(), 1800).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), struct(col("ts_ns"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_ns"), col("event_id")))
          .as("close"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the 10:00-10:30 'a' bar: open = value at earliest (ts, id)
    val bar = streamed.find(b => b._2 == "a" &&
      b._1 == Timestamp.valueOf("2024-01-01 10:00:00")).get
    // 4 events (10:01, 10:02, 10:03, 10:08): open = 5.0 (earliest),
    // high 9.0, low 1.0, close = 7.0 (latest)
    assert(bar._3 == 4L && bar._4 == 5.0 && bar._5 == 9.0 &&
      bar._6 == 1.0 && bar._7 == 7.0)
  }

  test("streaming EWMA ≡ batch ewmaByUser (q132 twin), two-long state " +
      "carried across batches, intra-batch disorder repaired") {
    // u1 accumulates across TWO batches (fed out of time order in batch
    // 1); u2 spans both; u3 appears only in batch 2.
    val b1 = Seq(
      EvI(ts(2), "e", 12.34, 1, 11), EvI(ts(1), "e", 40.0, 1, 10),
      EvI(ts(1), "e", 7.5, 2, 12))
    val b2 = Seq(
      EvI(ts(3), "e", 25.0, 1, 13), EvI(ts(4), "e", 3.25, 2, 14),
      EvI(ts(5), "e", 18.0, 3, 15))
    val withNs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    val input = MemoryStream[EvI](spark)
    val q = graft.streaming.StreamOps
      .ewmaStream(withNs(input.toDF()))
      .writeStream.format("memory").queryName("ewmastream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-ewma").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // n_events is monotone per user, so the final state = max-n row
      val streamed = spark.table("ewmastream")
        .groupBy("user_id")
        .agg(max_by(struct(col("n_events"), col("ewma_e3")),
          col("n_events")).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.ewma_e3"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val batch = graft.operators.Stats
        .ewmaByUser(withNs((b1 ++ b2).toDF()))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(streamed == batch)
      // the cross-batch carry: u1's final fold saw all 3 events
      assert(streamed(1L)._1 == 3L)
    } finally q.stop()
  }

  test("streaming rolling WAU ≡ batch rollingWau on observed anchor " +
      "days (q144 twin, chained dedup + windowed agg)") {
    def dts(day: Int) =
      Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")
    // u1 active days 1 and 3, u2 day 1, u3 day 8 (second batch);
    // anchors: day 1 → {u1,u2}; day 3 → {u1,u2}; day 8 → {u1(day 3),
    // u3} — the cross-batch carry: u1's day-3 activity is still
    // visible from day 8.
    val b1 = Seq(Ev(dts(1), "e", 0.0, 1), Ev(dts(1), "e", 0.0, 2),
      Ev(dts(3), "e", 0.0, 1))
    val b2 = Seq(Ev(dts(8), "e", 0.0, 3))
    // far-future sentinel advances the watermark so every real
    // anchor's 1-day window closes (its own anchors stay open and
    // unemitted — append mode)
    val sentinel = Ev(Timestamp.valueOf("2024-03-01 00:00:00"),
      "e", 0.0, 99)
    val input = MemoryStream[Ev](spark)
    val q = StreamOps.rollingWauStream(input.toDF())
      .writeStream.format("memory").queryName("waustream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-wau").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(sentinel); q.processAllAvailable()
      val streamed = spark.table("waustream").collect()
        .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
      import spark.implicits._
      val batch = graft.operators.Behavioral
        .rollingWau((b1 ++ b2).toDF())
        .collect().map(r => r.getDate(0).toLocalDate -> r.getLong(1))
        .toMap
      assert(batch.nonEmpty)
      batch.foreach { case (d, n) =>
        assert(streamed.get(d).contains(n),
          s"anchor $d: streamed ${streamed.get(d)} vs batch $n")
      }
    } finally q.stop()
  }

  test("streaming Holt ≡ batch holtByType (q146 twin), coupled " +
      "(level, trend) state across batches, disorder repaired") {
    // 'hot' spans both batches with batch-1 days out of order (the
    // sort-within-slice repair); 'cold' appears only in batch 2. The
    // falling tail exercises the negative-trend truncation branch.
    val b1 = Seq(("hot", 2, 300L), ("hot", 1, 100L), ("hot", 3, -50L))
    val b2 = Seq(("hot", 4, -200L), ("cold", 1, 40L), ("cold", 2, 10L))
    val input = MemoryStream[(String, Int, Long)](spark)
    val q = graft.streaming.StreamOps
      .holtStream(input.toDF()
        .toDF("event_type", "dnum", "v"))
      .writeStream.format("memory").queryName("holtstream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-holt").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("holtstream")
        .groupBy("event_type")
        .agg(max_by(struct(col("n_days"), col("level_e3"),
          col("trend_e3"), col("forecast_e3")), col("n_days")).as("s"))
        .select(col("event_type"), col("s.n_days"), col("s.level_e3"),
          col("s.trend_e3"), col("s.forecast_e3"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val batch = graft.operators.Stats
        .holtByType((b1 ++ b2).toDF("event_type", "dnum", "v"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(streamed == batch)
      // the cross-batch carry: 'hot' folded all four days
      assert(streamed("hot")._1 == 4L)
    } finally q.stop()
  }

  test("streaming arrival gaps ≡ batch lag window (q127 twin), gap " +
      "spanning the batch boundary included, disorder repaired") {
    // u1/click emits gaps 2min (batch 1) and 3min (ACROSS the batch
    // boundary); u1/view is a different state key (no cross-type gap);
    // batch-1 rows for u1 arrive out of time order.
    val b1 = Seq(
      EvI(ts(3), "click", 0.0, 1, 11), EvI(ts(1), "click", 0.0, 1, 10),
      EvI(ts(2), "view", 0.0, 1, 12), EvI(ts(4), "click", 0.0, 2, 13))
    val b2 = Seq(
      EvI(ts(6), "click", 0.0, 1, 14), EvI(ts(9), "view", 0.0, 1, 15))
    val withNs = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    val input = MemoryStream[EvI](spark)
    val q = graft.streaming.StreamOps
      .arrivalGapsStream(withNs(input.toDF()))
      .writeStream.format("memory").queryName("gapstream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-gaps").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("gapstream")
        .select("user_id", "event_type", "gap_us", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      // batch reference: the q127 lag window over the union of batches
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id", "event_type")
        .orderBy("ts_ns", "event_id")
      val batch = withNs((b1 ++ b2).toDF())
        .withColumn("prev_ns", lag(col("ts_ns"), 1).over(w))
        .filter(col("prev_ns").isNotNull)
        .select(col("user_id"), col("event_type"),
          expr("(ts_ns - prev_ns) div 1000").as("gap_us"),
          col("event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(streamed == batch)
      assert(streamed.contains((1L, "click", 180000000L, 14L)),
        "the cross-batch gap (3 min) must be emitted from carried state")
    } finally q.stop()
  }

  test("streaming outlier filter ≡ batch q90 against the same history") {
    // history: type 'p' has 29×10.0 and one 1000.0 (z ≈ 5.4), type 'q'
    // constant (σ = 0 → nothing can be flagged)
    val history = ((1 to 29).map(i => Ev(ts(i % 50), "p", 10.0, i.toLong))
      :+ Ev(ts(30), "p", 1000.0, 30L))
      .++((1 to 10).map(i => Ev(ts(i), "q", 7.0, 100L + i)))
    val input = MemoryStream[Ev](spark)
    // live stream: one normal p, one extreme p, one deviant q (σ = 0
    // in history ⇒ ANY deviation is infinite-z → flagged), one
    // matching q (diff = 0 → not flagged), one unknown type (no stats
    // row ⇒ inner join drops it)
    input.addData(
      Ev(ts(1), "p", 11.0, 201L), Ev(ts(2), "p", 900.0, 202L),
      Ev(ts(3), "q", 999.0, 203L), Ev(ts(5), "q", 7.0, 205L),
      Ev(ts(4), "x", 1e9, 204L))
    val streamed = runAvailableNow(
      graft.operators.Stats.flagOutliers(input.toDF(),
        graft.operators.Stats.valueStats(history.toDF()), 3),
      "outliers")
      .collect().map(_.getAs[Long]("user_id")).toSet
    assert(streamed == Set(202L, 203L))
    // batch recomputation over the SAME stats frame flags the same row
    val batchFlag = graft.operators.Stats.flagOutliers(
      Seq(Ev(ts(1), "p", 11.0, 201L), Ev(ts(2), "p", 900.0, 202L),
        Ev(ts(3), "q", 999.0, 203L), Ev(ts(5), "q", 7.0, 205L),
        Ev(ts(4), "x", 1e9, 204L)).toDF(),
      graft.operators.Stats.valueStats(history.toDF()))
      .collect().map(_.getAs[Long]("user_id")).toSet
    assert(batchFlag == streamed)
  }

  test("stream-stream interval join ≡ the same body run as a batch " +
      "theta join (conversion attribution within the horizon)") {
    val evs = Seq(
      EvI(ts(0), "click", 0.0, 1, 1),
      EvI(ts(5), "purchase", 10.0, 1, 2), // within 10 min of click 1
      EvI(ts(20), "purchase", 20.0, 1, 3), // outside the horizon
      EvI(ts(2), "click", 0.0, 2, 4),
      EvI(ts(2), "purchase", 5.0, 2, 5), // same instant → gap>0 excludes
      EvI(ts(8), "purchase", 7.0, 2, 6), // within
      EvI(ts(9), "purchase", 8.0, 3, 7), // no click for this user
      // watermark pusher closes all state
      EvI(Timestamp.valueOf("2024-01-01 13:00:00"), "z", 0.0, 9, 99))
    val input = MemoryStream[EvI](spark)
    input.addData(evs: _*)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "a_id", "b_id", "gap_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = pairs(runAvailableNow(
      StreamOps.intervalJoinStream(input.toDF(), input.toDF(),
        "click", "purchase", horizonSeconds = 600,
        watermark = "1 minute"), "ssjoin"))
    val batch = pairs(StreamOps.intervalJoinStream(evs.toDF(),
      evs.toDF(), "click", "purchase", horizonSeconds = 600))
    assert(streamed == batch)
    assert(streamed == Set(
      (1L, 1L, 2L, 300000000L), // 5 min in micros
      (2L, 4L, 6L, 360000000L))) // 6 min in micros
  }

  test("streaming CDC apply ≡ sequential batch applyCdc (q240 twin; " +
      "batch 2 re-touches batch-1 keys — delete-after-update and " +
      "update-after-insert both carried in state)") {
    import graft.operators.Relational
    val base = Seq(
      (1L, Option("A"), Option(10.0)),
      (2L, Option("B"), Option(20.0)),
      (3L, Option("C"), Option(30.0)))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val b1 = Seq((2L, "U", Option("B2"), Option(21.0)),
      (4L, "I", Option("D"), Option(40.0)))
    val b2 = Seq((2L, "D", Option.empty[String], Option.empty[Double]),
      (4L, "U", Option("D2"), Option(41.0)))
    def diffDf(rows: Seq[(Long, String, Option[String], Option[Double])]) =
      rows.toDF("o_orderkey", "op", "new_o_orderstatus",
        "new_o_totalprice")
    val input =
      MemoryStream[(Long, String, Option[String], Option[Double])](spark)
    val q = StreamOps.applyCdcStream(input.toDF()
        .toDF("o_orderkey", "op", "new_o_orderstatus",
          "new_o_totalprice"))
      .writeStream.format("memory").queryName("cdcstream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-cdc").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val latest = spark.table("cdcstream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)), Option(r.get(4))))
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._2) }.toSeq
      // reconstruct the maintained view: base upserted with each key's
      // LATEST emitted state, deletes dropped
      val baseMap = base.collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2))))).toMap
      val view = latest.foldLeft(baseMap) {
        case (m, (k, _, op, s, p)) =>
          if (op == "D") m - k else m + (k -> ((s, p)))
      }.map { case (k, (s, p)) => (k, s, p) }.toSet
      val afterBatch = Relational.applyCdc(
          Relational.applyCdc(base, diffDf(b1), "o_orderkey",
            Seq("o_orderstatus", "o_totalprice")),
          diffDf(b2), "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          Option(r.get(2)))).toSet
      assert(view == afterBatch && view.nonEmpty)
      // cross-batch state: key 4's second change carries change_seq 2
      assert(latest.exists { case (k, n, op, _, _) =>
        k == 4L && n == 2L && op == "U" })
      assert(!view.exists(_._1 == 2L), "deleted key survived")
    } finally q.stop()
  }

  test("streaming HLL registers ≡ the driver-replayed batch sketch " +
      "over the union (q254 twin): max-rho state is order- AND " +
      "duplicate-insensitive across overlapping batches") {
    val input = MemoryStream[Long](spark)
    val q = StreamOps.hllRegistersStream(
        input.toDF().toDF("user_id"))
      .writeStream.format("memory").queryName("hllstream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-hll").toString)
      .start()
    try {
      input.addData(1L to 300L: _*); q.processAllAvailable()
      // batch 2 re-hits 200..300 (duplicates) plus new keys
      input.addData(200L to 500L: _*); q.processAllAvailable()
    } finally q.stop()
    // per-bucket register is monotone → latest emitted = max emitted
    val got = spark.table("hllstream").groupBy("bucket")
      .agg(max(col("register")).as("register")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val P = 1000000007L
    val a = graft.functions.Mix.modMults(1)(0)
    val b = graft.functions.Mix.modAdds(1)(0)
    val want = scala.collection.mutable.Map.empty[Long, Long]
    (1L to 500L).foreach { u =>
      val h = ((a * (u % P)) % P + b) % P
      val r = h / 64
      val rho =
        if (r == 0) 25L
        else java.lang.Long.numberOfTrailingZeros(r) + 1L
      val bk = h % 64
      if (rho > want.getOrElse(bk, 0L)) want(bk) = rho
    }
    assert(got == want.toMap, s"got $got\nwant $want")
  }

  test("streaming CMS registers ≡ the driver-replayed batch sketch " +
      "over the union (q297 twin): per-cell sums are order-" +
      "insensitive, duplicates COUNT (frequency, not cardinality)") {
    val input = MemoryStream[Long](spark)
    val q = StreamOps.cmsRegistersStream(
        input.toDF().toDF("user_id"))
      .writeStream.format("memory").queryName("cmsstream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-cms").toString)
      .start()
    try {
      input.addData(1L to 300L: _*); q.processAllAvailable()
      // batch 2 re-hits 200..300 (their counts must reach 2)
      input.addData(200L to 500L: _*); q.processAllAvailable()
    } finally q.stop()
    // counters are monotone → latest emitted = max emitted per cell
    val got = spark.table("cmsstream").groupBy("j", "k")
      .agg(max(col("counter")).as("counter")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val P = 1000000007L
    val ms = graft.functions.Mix.modMults(4)
    val as = graft.functions.Mix.modAdds(4)
    val want = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val arrivals = (1L to 300L) ++ (200L to 500L)
    arrivals.foreach { u =>
      (0 until 4).foreach { j =>
        val k = ((ms(j) * (u % P)) % P + as(j)) % P % 64
        want((j.toLong, k)) = want.getOrElse((j.toLong, k), 0L) + 1L
      }
    }
    assert(got == want.toMap, s"got ${got.size} want ${want.size}")
  }

  test("streaming quantile-sketch state ≡ an independent driver-side " +
      "fold of the even-offset insert rule across two batches (q302 " +
      "twin): state is the bounded compactor levels, never the raw " +
      "values, and intra-batch order is canonicalized ascending") {
    val input = MemoryStream[(Long, Long)](spark)
    val q = StreamOps.quantileSketchStream(
        input.toDF().toDF("shard", "v"), cap = 4)
      .writeStream.format("memory").queryName("qsketchstream")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-qsk").toString)
      .start()
    try {
      // batch 1: shard 0 gets 1..12 (delivered DESCENDING — the
      // canonicalization must sort them), shard 1 gets 3 values
      input.addData(((12L to 1L by -1L).map(v => (0L, v)) ++
        Seq((1L, 5L), (1L, 9L), (1L, 2L))): _*)
      q.processAllAvailable()
      // batch 2: shard 0 gets 13..20, shard 1 untouched
      input.addData((13L to 20L).map(v => (0L, v)): _*)
      q.processAllAvailable()
    } finally q.stop()
    // latest dump per shard = rows of the LAST batch that touched it
    val emitted = spark.table("qsketchstream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replay: plain-Scala fold of the same published rule
    def fold(batches: Seq[Seq[Long]], cap: Int): Vector[Vector[Long]] = {
      var ls = Vector.empty[Vector[Long]]
      batches.foreach { b =>
        b.sorted.foreach { v =>
          ls = if (ls.isEmpty) Vector(Vector.empty[Long]) else ls
          ls = ls.updated(0, ls(0) :+ v)
          var l = 0
          while (l < ls.length) {
            if (ls(l).length > cap) {
              val s = ls(l).sorted
              val up = s.indices.collect {
                case i if i % 2 == 1 => s(i) }.toVector
              if (ls.length == l + 1) ls = ls :+ Vector.empty[Long]
              ls = ls.updated(l, Vector.empty[Long])
                .updated(l + 1, ls(l + 1) ++ up)
            }
            l += 1
          }
        }
      }
      ls
    }
    def dump(shard: Long, ls: Vector[Vector[Long]]) =
      ls.zipWithIndex.flatMap { case (items, lvl) =>
        items.sorted.zipWithIndex.map { case (v, i) =>
          (shard, lvl.toLong, (i + 1).toLong, v) } }.toSet
    val want0b1 = dump(0L, fold(Seq((12L to 1L by -1L).toSeq), 4))
    val want0b2 = dump(0L, fold(
      Seq((12L to 1L by -1L), (13L to 20L)).map(_.toSeq), 4))
    val want1 = dump(1L, fold(Seq(Seq(5L, 9L, 2L)), 4))
    // the memory sink in update mode accumulates BOTH of shard 0's
    // per-batch dumps — the emitted set must be exactly their union
    assert(emitted.filter(_._1 == 0L).toSet == (want0b1 ++ want0b2),
      s"shard0: got ${emitted.filter(_._1 == 0L).toSeq.sorted}\n" +
        s"want ${(want0b1 ++ want0b2).toSeq.sorted}")
    assert(emitted.filter(_._1 == 1L).toSet == want1,
      s"shard1: ${emitted.filter(_._1 == 1L).toSeq.sorted}")
    // bounded-state claim: no level of any dump exceeds capacity
    // (pos is the within-level rank of one dump — the sink holds
    // multiple dumps per (shard, level), so bound the rank, not the
    // accumulated row count)
    assert(emitted.forall(_._3 <= 4L), "a level dump exceeded capacity")
  }

  test("applyCdcStream seqCol resolves multi-op-per-key batches in " +
      "sequence order (U seq 1 + D seq 2 delivered REVERSED in one " +
      "batch → key deleted, both ops counted)") {
    val input =
      MemoryStream[(Long, String, Option[String], Option[Double], Long)](spark)
    val q = StreamOps.applyCdcStream(input.toDF()
        .toDF("o_orderkey", "op", "new_o_orderstatus",
          "new_o_totalprice", "chg_seq"), seqCol = Some("chg_seq"))
      .writeStream.format("memory").queryName("cdcseq")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-cdcseq").toString)
      .start()
    try {
      input.addData(
        (7L, "D", Option.empty[String], Option.empty[Double], 2L),
        (7L, "U", Option("X"), Option(1.0), 1L))
      q.processAllAvailable()
      val rows = spark.table("cdcseq").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(rows == Set((7L, 2L, "D")),
        s"latest-by-seq must win regardless of arrival order: $rows")
    } finally q.stop()
  }

  test("invIndexDeltaStream (q261's twin): per-doc postings churn over " +
      "streamed edits ≡ the batch q261 rows for the same docs — " +
      "rewrites, an unchanged re-send (0/0), and a brand-new doc " +
      "(all-added), split across two batches") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma"),
      (2L, "one two three four"),
      (3L, "red green blue")).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)](spark)
    val df = StreamOps.invIndexDeltaStream(
      input.toDF().toDF("doc_id", "text"), base)
    val q = df.writeStream.format("memory").queryName("idxdelta")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-idxdelta").toString)
      .start()
    try {
      input.addData((1L, "alpha beta gamma delta"), // 1 added
        (2L, "one two")) // 2 removed
      q.processAllAvailable()
      input.addData((3L, "red green blue"), // unchanged re-send
        (9L, "brand new doc")) // absent from base: all added
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("idxdelta").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set(
      (1L, 1L, 0L), (2L, 0L, 2L), (3L, 0L, 0L), (9L, 3L, 0L)),
      s"$streamed")
  }

  test("invIndexDeltaStream ≡ batch postingsDelta on the shared " +
      "derived snapshot (edited/rewritten docs — deletes are batch-" +
      "only tombstones by contract)") {
    import spark.implicits._
    val docs = Seq(
      (5L, "aa bb cc"),          // % 5 = 0 → rewritten (zz-prefixed)
      (7L, "dd ee"),             // % 7 = 0 → deleted (batch-only)
      (8L, "ff gg hh ff"),       // unchanged
      (10L, "ii jj")).toDF("doc_id", "text") // rewritten
    val snapshot = graft.operators.TextOps.derivedSnapshot(docs)
    val input = MemoryStream[(Long, String)](spark)
    val q = StreamOps.invIndexDeltaStream(
        input.toDF().toDF("doc_id", "text"), docs)
      .writeStream.format("memory").queryName("idxdelta2")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-idxdelta2").toString)
      .start()
    try {
      input.addData(snapshot.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("idxdelta2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(t => t._2 + t._3 > 0).toSet
    val batch = graft.operators.TextOps.postingsDelta(docs)
      .filter($"status" =!= "deleted").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("applyCdcStream WITH seqCol throws on DUPLICATE seq values for " +
      "one key in one batch — equal seqs would resolve by arrival " +
      "order, nondeterministic across runs (advice r11)") {
    val input =
      MemoryStream[(Long, String, Option[String], Option[Double], Long)](spark)
    val q = StreamOps.applyCdcStream(input.toDF()
        .toDF("o_orderkey", "op", "new_o_orderstatus",
          "new_o_totalprice", "chg_seq"), seqCol = Some("chg_seq"))
      .writeStream.format("memory").queryName("cdcdupseq")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-cdcdupseq").toString)
      .start()
    try {
      input.addData(
        (7L, "U", Option("X"), Option(1.0), 5L),
        (7L, "D", Option.empty[String], Option.empty[Double], 5L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => Option(c.getMessage)
          .exists(_.contains("duplicate seq"))),
        s"expected the duplicate-seq message, got: ${ex.getMessage}")
    } finally q.stop()
  }

  test("applyCdcStream WITHOUT seqCol enforces the one-op-per-key-" +
      "per-batch precondition (two ops for one key → query fails)") {
    val input =
      MemoryStream[(Long, String, Option[String], Option[Double])](spark)
    val q = StreamOps.applyCdcStream(input.toDF()
        .toDF("o_orderkey", "op", "new_o_orderstatus",
          "new_o_totalprice"))
      .writeStream.format("memory").queryName("cdcnoseq")
      .outputMode("update")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-cdcnoseq").toString)
      .start()
    try {
      input.addData(
        (7L, "U", Option("X"), Option(1.0)),
        (7L, "D", Option.empty[String], Option.empty[Double]))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(_.getMessage != null) &&
        causes(ex).exists(c => Option(c.getMessage)
          .exists(_.contains("no seqCol"))),
        s"expected the precondition message, got: ${ex.getMessage}")
    } finally q.stop()
  }

  test("streaming session_window ≡ batch sessionWindowAgg (q276 twin): " +
      "cross-batch session merge and the exact-gap boundary split " +
      "(round 13)") {
    // user 1: 10:00, 10:20 in batch 1, 10:40 in batch 2 — the open
    // session must MERGE across batches into one (start 10:00, end
    // 11:10, 3 events). user 2: 10:00 and exactly 10:30 (delta == gap)
    // — MEASURED: Spark merges abutting windows, so ONE session (the
    // >-boundary the q276 oracle replays, same rule as q141).
    // Next-day sentinel closes everything past the 2 h watermark.
    val b1 = Seq((1L, ts(0)), (1L, ts(20)), (2L, ts(0)), (2L, ts(30)))
    val b2 = Seq((1L, ts(40)),
      (9L, Timestamp.valueOf("2024-01-02 10:00:00")))
    val input = MemoryStream[(Long, Timestamp)](spark)
    val q = graft.operators.Behavioral.sessionWindowAgg(
        input.toDF().toDF("user_id", "ts").withWatermark("ts", "2 hours"),
        "30 minutes")
      .writeStream.format("memory").queryName("swstream")
      .outputMode("append")
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt-sw").toString)
      .start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("swstream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val batch = graft.operators.Behavioral.sessionWindowAgg(
          (b1 ++ b2).toDF("user_id", "ts"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val closed = batch.filter(_._1 != 9L)
      assert(closed == streamed.filter(_._1 != 9L),
        s"streamed $streamed vs batch-closed $closed")
      // the merge and the boundary, explicitly
      assert(closed.count(_._1 == 1L) == 1 &&
        closed.exists(t => t._1 == 1L && t._4 == 3L),
        "user 1's cross-batch events must merge into one session")
      assert(closed.count(_._1 == 2L) == 1 &&
        closed.exists(t => t._1 == 2L && t._4 == 2L),
        "delta == gap must MERGE (abutting windows coalesce — measured)")
    } finally q.stop()
  }
}
