package perfbench

import graft.core.{Message, Poll, TransportConsumer}

/** Checks that the output checks catch what they exist to catch: a
  * dropped, duplicated or corrupted connector record, and a changed
  * Spark entry result. Reports one attempt per scenario. */
object SelfTest {

  /** Consumer that tampers with the record at `target` (partition 0). */
  final class Faulty(inner: TransportConsumer, kind: String, target: Long)
      extends TransportConsumer {
    private var replay: Option[Poll] = None
    def subscribe(topics: Seq[String]): Unit = inner.subscribe(topics)
    def poll(timeoutMs: Long): Poll = replay match {
      case Some(p) => replay = None; p
      case None => inner.poll(timeoutMs) match {
        case r @ Poll.Record(m) if m.partition == 0 && m.offset == target =>
          kind match {
            case "drop" => inner.poll(timeoutMs)
            case "duplicate" => replay = Some(r); r
            case "corrupt" =>
              // one bit flipped mid-payload: every Avro type it can land
              // in (varint, boolean, string or bytes body, double) decodes
              // to a different value or fails to decode
              val v = m.value.clone()
              v(v.length / 2) = (v(v.length / 2) ^ 0x01).toByte
              Poll.Record(m.copy(value = v))
          }
        case other => other
      }
    }
    def commit(offsets: Map[graft.core.TopicPartition, Long]): Unit = inner.commit(offsets)
    def committed(tp: graft.core.TopicPartition): Option[Long] = inner.committed(tp)
    def assignment: Seq[graft.core.TopicPartition] = inner.assignment
    def lastMessage(topic: String): Option[Message] = inner.lastMessage(topic)
    def close(): Unit = inner.close()
  }

  def run(a: Main.Args): Result = {
    val outcomes = Seq.newBuilder[(String, Boolean)]
    for (spec <- Conn.workloads.values.toSeq.sortBy(_.name)) {
      val small = spec.copy(records = 2000)
      val in = Conn.generate(a.seed, small.nested, small.records)
      val clean = Conn.runPass(small, in, traced = false, null)
      outcomes += s"${spec.name}: clean pass accepted" -> (clean.failed == 0)
      for (kind <- Seq("drop", "duplicate", "corrupt")) {
        val p = Conn.runPass(small, in, traced = false, null,
          c => new Faulty(c, kind, target = 100))
        outcomes += s"${spec.name}: $kind rejected (${p.problems.mkString("; ")})" -> (p.failed > 0)
      }
    }
    val spark = SparkRun.session(a.root)
    val dir = a.root.resolve(SparkRun.DataDir).toString
    val op = SparkRun.relational.find(_.name == "q11_agg").get
    val df = op.run(spark, dir).get
    val good = SparkRun.frameCheck(df)
    val expected = SparkRun.readExpected(SparkRun.expectedPath(a.root, "spark-relational"))
    outcomes += "spark: stored q11_agg check matches" ->
      expected.get(op.name).contains(good)
    val changed = Seq(
      "row dropped" -> SparkRun.frameCheck(df.limit(df.count().toInt - 1)),
      "value changed" -> SparkRun.frameCheck(df.withColumn(df.columns.last,
        org.apache.spark.sql.functions.lit(7L))))
    changed.foreach { case (what, c) =>
      outcomes += s"spark: $what rejected" -> (c != good)
    }
    val all = outcomes.result()
    all.foreach { case (n, ok) => println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $n") }
    val failed = all.count(!_._2).toLong
    Result(failed == 0, all.size.toLong, failed, Seq("selftest_checks" -> Metric(all.size, "count")))
  }
}
