package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.avro.{AvroCodec, SchemaRegistryHttpClient, SchemaRegistryServer}
import graft.config.{Logging, SinkConfig, SourceConfig}
import graft.core._
import graft.sources.{FileSink, FileSource}

/** Connector state-machine + at-least-once behaviors, ported from the
  * reference's mocked connector tests (SURVEY §5: test_pyconnectsink.py /
  * test_pyconnectsource.py via ConnectTestMixin). */
class ConnectorSpec extends AnyFunSuite {

  private def sinkConfig(topics: String = "t") = SinkConfig.fromMap(Map(
    "bootstrap_servers" -> "localhost:9092",
    "schema_registry" -> "http://localhost:8081",
    "group_id" -> "g", "topics" -> topics))

  private def sourceConfig(topic: String = "t") = SourceConfig.fromMap(Map(
    "bootstrap_servers" -> "localhost:9092",
    "schema_registry" -> "http://localhost:8081",
    "topic" -> topic, "offset_topic" -> s"$topic-offsets"))

  /** List-backed test source (the reference's PyConnectTestSource,
    * test/utils.py:167-241). */
  private class TestSource(records: Seq[(Any, Any)], broker: InMemoryBroker,
      cfg: SourceConfig = sourceConfig())
      extends GraftSource(cfg, broker) {
    private var idx = 0
    var seeked: Option[Any] = None
    def read(): Option[(Any, Any)] =
      if (idx < records.length) { idx += 1; Some(records(idx - 1)) } else None
    def seek(index: Any): Unit = { seeked = Some(index); idx = index match {
      case n: Long => n.toInt
      case n: Int => n
      case _ => 0
    } }
    def getIndex: Any = idx.toLong
    override protected def onEof(): Option[Status] = Some(Status.Stopped)
  }

  /** Buffer/flush recorder sink (the reference's PyConnectTestSink,
    * test/utils.py:244-302). */
  private class TestSink(broker: InMemoryBroker, flushInterval: Int = 1,
      topics: String = "t", cfg: SinkConfig = null)
      extends GraftSink(Option(cfg).getOrElse(sinkConfig(topics)), broker) {
    val received = mutable.ArrayBuffer[Any]()
    val flushedBatches = mutable.ArrayBuffer[Seq[Any]]()
    private val pending = mutable.ArrayBuffer[Any]()
    var failNextFlush = false
    var maxIterations = 200 // reference safety limit (test/utils.py:41-164)

    protected def onMessageReceived(msg: Message): Option[Status] = {
      val v = decodeFramed(msg.value)
      received += v; pending += v; None
    }
    override protected def needFlush(): Boolean =
      received.size % flushInterval == 0
    protected def onFlush(): Option[Status] = {
      if (failNextFlush && pending.nonEmpty) {
        failNextFlush = false; sys.error("flush failed")
      }
      if (pending.nonEmpty) { flushedBatches += pending.toSeq; pending.clear() }
      None
    }
    override protected def onNoMessageReceived(): Option[Status] =
      if (hasPartitionAssignments && allPartitionsAtEof) Some(Status.Stopped)
      else None
    override protected def runOnce(): Option[Status] = {
      maxIterations -= 1
      if (maxIterations < 0) sys.error("loop safety limit hit")
      super.runOnce()
    }
  }

  private def produce(broker: InMemoryBroker, n: Int,
      topic: String = "t"): Seq[String] = {
    new TestSource((0 until n).map(i => (s"k$i", s"v$i")), broker,
      sourceConfig(topic)).run()
    (0 until n).map(i => s"v$i")
  }

  test("source: produces all records then stops at EOF (S1/S11)") {
    val broker = new InMemoryBroker()
    val src = new TestSource(Seq(("k1", "v1"), ("k2", "v2")), broker)
    src.run()
    assert(src.status == Status.Stopped)
    assert(src.produceCount == 2)
    assert(broker.endOffset(TopicPartition("t", 0)) == 2)
  }

  test("source: periodic offset commits during the run loop (F1 interval)") {
    val broker = new InMemoryBroker()
    val cfg = SourceConfig.fromMap(Map(
      "bootstrap_servers" -> "localhost:9092",
      "schema_registry" -> "http://localhost:8081",
      "topic" -> "t", "offset_topic" -> "t-offsets",
      "offset_commit_interval" -> "1ms"))
    val src = new TestSource(
      (0 until 5).map(i => (s"k$i", s"v$i")), broker, cfg) {
      override def read(): Option[(Any, Any)] = {
        Thread.sleep(2) // ensure the 1ms interval elapses between reads
        super.read()
      }
    }
    src.run()
    // offset topic received commits DURING the run, not only the final one
    assert(broker.endOffset(TopicPartition("t-offsets", 0)) > 1)
  }

  test("source: a consumer sees produced records before the source's " +
      "first offset commit") {
    val broker = new InMemoryBroker()
    val consumer = broker.consumer("g")
    consumer.subscribe(Seq("t"))
    var consumed = 0
    // per read: (records the consumer has seen, offset-topic records)
    val atRead = mutable.ArrayBuffer[(Int, Long)]()
    val src = new TestSource((0 until 3).map(i => (s"k$i", s"v$i")), broker) {
      override def read(): Option[(Any, Any)] = {
        consumed += Iterator.continually(consumer.poll(0))
          .takeWhile(_.isInstanceOf[Poll.Record]).size
        atRead += ((consumed, broker.endOffset(TopicPartition("t-offsets", 0))))
        super.read()
      }
    }
    src.run()
    // each read sees every record produced before it; the only offset
    // commit is the one at close
    assert(atRead.toSeq == Seq((0, 0L), (1, 0L), (2, 0L), (3, 0L)))
    assert(broker.endOffset(TopicPartition("t-offsets", 0)) == 1)
  }

  test("source: commits offset on close; restart seeks past it (S7/S10)") {
    val broker = new InMemoryBroker()
    val records = Seq[(Any, Any)](("a", "1"), ("b", "2"), ("c", "3"))
    new TestSource(records, broker).run() // commits index 3 on close
    val second = new TestSource(records, broker)
    second.run()
    assert(second.seeked.contains(3L)) // resumed where the first stopped
    assert(second.produceCount == 0)   // nothing re-produced
  }

  test("source: a restart produces the record whose produce threw " +
      "(at-least-once), and the crash names its index") {
    val broker = new InMemoryBroker()
    // the schema inferred from {x} has no y; the one from {x, y} needs y
    val values = Seq[Any](Map("x" -> 1L), Map("x" -> 2L, "y" -> 2L), Map("x" -> 3L))
    val records = values.zipWithIndex.map { case (v, i) => (s"k$i": Any, v) }
    val crashes = mutable.ArrayBuffer[String]()
    var stopped = false
    while (!stopped) {
      assert(crashes.size < records.size, crashes)
      val src = new TestSource(records, broker)
      try { src.run(); stopped = true }
      catch { case e: RuntimeException => crashes += e.getMessage }
    }
    assert(crashes.size == 2)
    assert(crashes(0).startsWith("record at source index 1 not produced"), crashes)
    assert(crashes(0).contains("field 'y' not in schema"), crashes)
    assert(crashes(1).startsWith("record at source index 2 not produced"), crashes)
    val sink = new TestSink(broker)
    sink.run()
    assert(sink.received.toSeq == values)
  }

  test("sink: receives everything, commit-after-flush (K5/K9)") {
    val broker = new InMemoryBroker()
    val expected = produce(broker, 5)
    val sink = new TestSink(broker)
    sink.run()
    assert(sink.status == Status.Stopped)
    assert(sink.received.toSeq == expected)
    assert(broker.committed("g", TopicPartition("t", 0)).contains(5L))
  }

  test("sink: no commit when flush crashes (K9, test_pyconnectsink.py:93-110)") {
    val broker = new InMemoryBroker()
    produce(broker, 3)
    val sink = new TestSink(broker)
    sink.failNextFlush = true
    intercept[RuntimeException](sink.run())
    assert(sink.status == Status.Crashed)
    // the crashed flush happened after 1 message; its offset must NOT be
    // committed (at-least-once: replay on restart)
    assert(broker.committed("g", TopicPartition("t", 0)).isEmpty)
  }

  test("sink: crash then restart replays uncommitted messages (at-least-once)") {
    val broker = new InMemoryBroker()
    val expected = produce(broker, 4)
    val first = new TestSink(broker, flushInterval = 2)
    first.failNextFlush = true
    intercept[RuntimeException](first.run())
    val second = new TestSink(broker, flushInterval = 1)
    second.run()
    // set-equality across the crash, duplicates allowed
    // (test_sink_integration.py:92-107 semantics)
    assert((first.received ++ second.received).toSet == expected.toSet)
    assert(second.received.nonEmpty)
  }

  test("metrics snapshot: counters match the crash-then-restart scenario, " +
      "one JSON line per connector at close") {
    val buf = new ByteArrayOutputStream()
    Logging.configureForTest(Logging.LogConfig("INFO", colorize = false,
      serialize = true, useStderr = false), new PrintStream(buf, true, "UTF-8"))
    // lag is read from the broker when the snapshot is taken, so each
    // incarnation's snapshot is taken right after its run
    val (s, m1, m2) = try {
      val broker = new InMemoryBroker()
      val src = new TestSource((0 until 4).map(i => (s"k$i", s"v$i")), broker)
      src.run()
      val first = new TestSink(broker, flushInterval = 2)
      first.failNextFlush = true
      intercept[RuntimeException](first.run())
      val m1 = first.metrics
      val second = new TestSink(broker, flushInterval = 1)
      second.run()
      (src.metrics, m1, second.metrics)
    } finally Logging.configureForTest(Logging.fromEnv(Map.empty), System.out)

    assert(s.produced == 4 && s.consumed == 0 && s.crashes == 0)
    assert(s.commits == 1 && s.flushes == 1 && s.lag.isEmpty)
    assert(s.lastFlushToCommitMs.isDefined)
    val tp = TopicPartition("t", 0)
    // the first incarnation crashed in its second flush, before any commit
    assert(m1.crashes == 1 && m1.commits == 0 && m1.flushes == 1)
    assert(m1.lag == Map(tp -> 4L) && m1.lastFlushToCommitMs.isEmpty)
    assert(m2.crashes == 0 && m2.lag == Map(tp -> 0L))
    assert(m2.consumed == 4 && m2.commits > 0 && m2.commits <= m2.flushes)
    assert(m2.commitRetries == 0 && m2.lastFlushToCommitMs.exists(_ >= 0))

    val lines = buf.toString("UTF-8").linesIterator
      .filter(_.contains("connector metrics")).toSeq
    assert(lines.size == 3, lines)
    assert(lines.forall(_.startsWith("""{"level":"INFO",""")), lines)
    assert(lines.map(l => """\\"role\\": \\"(\w+)\\"""".r
      .findFirstMatchIn(l).map(_.group(1)).orNull) ==
      Seq("source", "sink", "sink"), lines)
    assert(lines(2).contains("""\"lag\": {\"t-0\": 0}"""), lines)
  }

  test("sink: a caught-up sink does not re-commit unchanged offsets") {
    val broker = new InMemoryBroker()
    produce(broker, 2)
    val commits = mutable.ArrayBuffer[Map[TopicPartition, Long]]()
    var idlePolls = 0
    val sink = new TestSink(broker) {
      override protected def makeConsumer(): TransportConsumer =
        new ChaosConsumer(broker.consumer(config.groupId), 0, None, config.topics) {
          override def commit(o: Map[TopicPartition, Long]): Unit = {
            commits += o; super.commit(o)
          }
        }
      // keep polling NoMessage a while after the partition hit EOF
      override protected def onNoMessageReceived(): Option[Status] = {
        idlePolls += 1
        if (idlePolls == 5) Some(Status.Stopped) else None
      }
    }
    sink.run()
    assert(sink.status == Status.Stopped && sink.received.size == 2)
    assert(sink.flushCount == 2 + 1 + 5 + 1) // gate on every poll + final
    val tp = TopicPartition("t", 0)
    assert(commits.toSeq == Seq(Map(tp -> 1L), Map(tp -> 2L)))
    assert(sink.metrics.commits == 2)
    assert(broker.committed("g", tp).contains(2L))
  }

  test("sink: final flush happens exactly once on graceful stop (K15)") {
    val broker = new InMemoryBroker()
    produce(broker, 2)
    val sink = new TestSink(broker, flushInterval = 100) // gate never fires
    sink.run()
    assert(sink.status == Status.Stopped)
    assert(sink.flushedBatches.map(_.size).sum == 2) // drained by final flush
  }

  test("connector: finished connectors cannot be restarted (C2)") {
    val broker = new InMemoryBroker()
    val src = new TestSource(Nil, broker)
    src.run()
    intercept[IllegalArgumentException](src.run())
  }

  test("connector: crash hook can resurrect the loop (C5)") {
    val broker = new InMemoryBroker()
    var crashes = 0
    val src = new TestSource(Seq(("k", "v")), broker) {
      private var thrown = false
      override def read(): Option[(Any, Any)] = {
        if (!thrown) { thrown = true; sys.error("transient") }
        super.read()
      }
      override protected def onCrashDuringRun(): Option[Status] = {
        crashes += 1; Some(Status.Running)
      }
    }
    src.run()
    assert(crashes == 1 && src.status == Status.Stopped)
    assert(src.produceCount == 1)
  }

  test("connector: CRASHED without exception raises NoCrashInfo (C3)") {
    val broker = new InMemoryBroker()
    val src = new TestSource(Nil, broker) {
      override protected def runOnce(): Option[Status] = Some(Status.Crashed)
    }
    intercept[NoCrashInfo](src.run())
  }

  // the reference parametrizes integration tests over 1/2/4 partitions
  // (test/conftest.py:143-166) — same sweep against the in-memory broker
  for (parts <- Seq(1, 2, 4)) {
    test(s"sink drains a $parts-partition topic completely (per-partition EOF)") {
      val broker = new InMemoryBroker(numPartitions = parts)
      val expected = produce(broker, 12)
      val sink = new TestSink(broker)
      sink.run()
      assert(sink.status == Status.Stopped)
      // multiset equality across partitions (order interleaves)
      assert(sink.received.groupBy(identity).view.mapValues(_.size).toMap ==
        expected.groupBy(identity).view.mapValues(_.size).toMap)
      // every partition's offset committed at its end
      (0 until parts).foreach { p =>
        val tp = TopicPartition("t", p)
        assert(broker.committed("g", tp).contains(broker.endOffset(tp)))
      }
    }
  }

  test("sink: a sink that subscribes after the first record is assigned " +
      "every partition and drains them all") {
    val broker = new InMemoryBroker(numPartitions = 4)
    val schema = AvroCodec.parseable("\"string\"")
    broker.registerSchema(1, schema.toString)
    val producer = broker.producer()
    // a 1-byte key b lands in partition (31 + b) mod 4
    def send(i: Int): Unit =
      producer.produce("t", Array(i.toByte), AvroCodec.encodeFramed(s"v$i", schema, 1))
    send(0)
    val sink = new TestSink(broker) {
      override protected def beforeRunLoop(): Unit = {
        super.beforeRunLoop()
        (1 to 40).foreach(send)
      }
    }
    sink.run()
    assert(sink.status == Status.Stopped)
    assert(sink.received.sortBy(_.toString) == (0 to 40).map(i => s"v$i").sorted)
    (0 until 4).foreach { p =>
      val tp = TopicPartition("t", p)
      assert(broker.endOffset(tp) > 0)
      assert(broker.committed("g", tp).contains(broker.endOffset(tp)))
    }
  }

  test("in-memory consumer: polls alternate across partitions with data, " +
      "each record once; EOF once per catch-up, re-armed by new data") {
    val broker = new InMemoryBroker(numPartitions = 2)
    val producer = broker.producer()
    // a 1-byte key b lands in partition (31 + b) mod 2
    def send(bs: Int*): Unit = {
      bs.foreach(b => producer.produce("t", Array(b.toByte), Array(b.toByte)))
      producer.flush()
    }
    send(0 until 8: _*)
    val consumer = broker.consumer("g")
    consumer.subscribe(Seq("t"))
    val records = Seq.fill(8)(consumer.poll(0)).collect {
      case Poll.Record(m) => (m.partition, m.value(0).toInt)
    }
    assert(records.map(_._1) == Seq(0, 1, 0, 1, 0, 1, 0, 1))
    assert(records.map(_._2).sorted == (0 until 8))
    assert(Seq.fill(3)(consumer.poll(0)) == Seq(
      Poll.Eof(TopicPartition("t", 0), 4), Poll.Eof(TopicPartition("t", 1), 4),
      Poll.NoMessage))
    send(2)
    assert(consumer.poll(0).asInstanceOf[Poll.Record].msg.partition == 1)
    assert(consumer.poll(0) == Poll.Eof(TopicPartition("t", 1), 5))
    assert(consumer.poll(0) == Poll.NoMessage)
  }

  test("in-memory consumer: on a 3-partition topic each partition signals " +
      "EOF once per catch-up; a second consumer of the group starts at its " +
      "committed offsets") {
    val broker = new InMemoryBroker(numPartitions = 3)
    val producer = broker.producer()
    // a 1-byte key b lands in partition (31 + b) mod 3
    def send(bs: Int*): Unit =
      bs.foreach(b => producer.produce("t", Array(b.toByte), Array(b.toByte)))
    def tp(p: Int) = TopicPartition("t", p)
    /** Polls until NoMessage: (partition, offset) of each record, and the EOFs. */
    def drain(c: TransportConsumer): (Set[(Int, Long)], Seq[Poll]) = {
      val polls = Iterator.continually(c.poll(0)).takeWhile(_ != Poll.NoMessage).toSeq
      (polls.collect { case Poll.Record(m) => (m.partition, m.offset) }.toSet,
        polls.filter(_.isInstanceOf[Poll.Eof]))
    }
    send(0 until 6: _*)
    val first = broker.consumer("g")
    first.subscribe(Seq("t"))
    val (records, eofs) = drain(first)
    assert(records == (for (p <- 0 until 3; o <- 0L until 2L) yield (p, o)).toSet)
    assert(eofs == Seq(Poll.Eof(tp(0), 2), Poll.Eof(tp(1), 2), Poll.Eof(tp(2), 2)))
    assert(first.poll(0) == Poll.NoMessage)
    send(1) // partition 2 only: its EOF alone is re-armed
    assert(drain(first) == ((Set((2, 2L)), Seq(Poll.Eof(tp(2), 3)))))
    first.commit(Map(tp(0) -> 1L, tp(1) -> 0L, tp(2) -> 3L))
    first.close()

    val second = broker.consumer("g")
    second.subscribe(Seq("t"))
    assert(drain(second) == ((Set((0, 1L), (1, 0L), (1, 1L)),
      Seq(Poll.Eof(tp(0), 2), Poll.Eof(tp(1), 2), Poll.Eof(tp(2), 3)))))
  }

  test("broker: equal keys land in one partition, a null key in partition 0") {
    val broker = new InMemoryBroker(numPartitions = 4)
    val producer = broker.producer()
    (0 until 3).foreach(_ => producer.produce("t", "same".getBytes, Array[Byte](1)))
    producer.produce("t", null, Array[Byte](2))
    val counts = (0 until 4).map(p => broker.endOffset(TopicPartition("t", p)))
    val keyed = Math.floorMod(java.util.Arrays.hashCode("same".getBytes), 4)
    assert(keyed != 0)
    assert(counts == (0 until 4).map(p => if (p == keyed) 3L else if (p == 0) 1L else 0L))
  }

  /** Writes raw values to topic `t`, bypassing any source. */
  private def sendRaw(broker: InMemoryBroker, values: Array[Byte]*): Unit = {
    val producer = broker.producer()
    values.foreach(v => producer.produce("t", null, v))
    producer.flush()
  }

  test("sink: a frame whose schema id is not registered crashes the " +
      "sink under fail-fast (poison pill)") {
    val broker = new InMemoryBroker()
    sendRaw(broker, AvroCodec.encodeFramed("v", AvroCodec.parseable("\"string\""), 77))
    val sink = new TestSink(broker)
    val e = intercept[IllegalStateException](sink.run())
    assert(e.getMessage == "unknown schema id 77 (poison pill)")
    assert(sink.status == Status.Crashed && sink.received.isEmpty)
  }

  test("sink: a frame shorter than its 5-byte header is rejected") {
    val broker = new InMemoryBroker()
    sendRaw(broker, Array[Byte](0, 0, 0))
    val sink = new TestSink(broker)
    val e = intercept[IllegalArgumentException](sink.run())
    assert(e.getMessage.contains("not a Confluent-framed Avro message"))
    assert(sink.status == Status.Crashed)
  }

  test("sink: the schema cache is per sink — two registries that give " +
      "id 1 to different schemas each decode their own records") {
    val schemas = Seq(
      """{"type":"record","name":"A","fields":[{"name":"x","type":"long"}]}""",
      """{"type":"record","name":"B","fields":[{"name":"y","type":"string"}]}""")
    val values = Seq(Map("x" -> 42L), Map("y" -> "hello"))
    val brokers = schemas.zip(values).map { case (json, value) =>
      val broker = new InMemoryBroker()
      val server = new SchemaRegistryServer(Some(broker)).start()
      val id = try new SchemaRegistryHttpClient(server.baseUrl)
        .register("t-value", json) finally server.stop()
      assert(id == 1)
      sendRaw(broker, AvroCodec.encodeFramed(value, AvroCodec.parseable(json), id))
      broker
    }
    val sinks = brokers.map { b => val s = new TestSink(b); s.run(); s }
    assert(sinks.map(_.received.toSeq) == values.map(Seq(_)))
  }

  /** Consumer wrapper that yields one Failure before delegating. */
  private class FailingOnce(inner: TransportConsumer) extends TransportConsumer {
    private var failed = false
    def subscribe(topics: Seq[String]): Unit = inner.subscribe(topics)
    def poll(timeoutMs: Long): Poll =
      if (!failed) { failed = true; Poll.Failure(new RuntimeException("transient")) }
      else inner.poll(timeoutMs)
    def commit(o: Map[TopicPartition, Long]): Unit = inner.commit(o)
    def committed(tp: TopicPartition): Option[Long] = inner.committed(tp)
    def assignment: Seq[TopicPartition] = inner.assignment
    def lastMessage(topic: String): Option[Message] = inner.lastMessage(topic)
    def close(): Unit = inner.close()
  }

  test("sink: failfast policy crashes on transport error (K14 default)") {
    val broker = new InMemoryBroker()
    produce(broker, 2)
    val sink = new TestSink(broker) {
      override protected def makeConsumer() =
        new FailingOnce(broker.consumer(config.groupId))
    }
    intercept[RuntimeException](sink.run())
    assert(sink.status == Status.Crashed)
  }

  test("sink: permissive policy tolerates transport errors (K14 option)") {
    val broker = new InMemoryBroker()
    val expected = produce(broker, 2)
    val permissiveCfg = SinkConfig.fromMap(Map(
      "bootstrap_servers" -> "localhost:9092",
      "schema_registry" -> "http://localhost:8081",
      "group_id" -> "g", "topics" -> "t",
      "kafka_opts" -> Map("fail.fast" -> "false")))
    val sink = new TestSink(broker, cfg = permissiveCfg) {
      override protected def makeConsumer() =
        new FailingOnce(broker.consumer("g"))
    }
    sink.run()
    assert(sink.status == Status.Stopped)
    assert(sink.received.toSeq == expected) // error skipped, stream drained
  }

  test("file source → file sink end-to-end round trip (E1/E2)") {
    val broker = new InMemoryBroker()
    val in = Files.createTempFile("graft-src", ".jsonl")
    val out = Files.createTempFile("graft-sink", ".jsonl")
    Files.write(in, Seq(
      """{"key": "k1", "value": {"a": "x", "b": 1}}""",
      """{"key": "k2", "value": {"a": "y", "b": 2}}""").asJava)
    new FileSource(in.toString, sourceConfig("files"), broker).run()
    val sink = new FileSink(out.toString, sinkConfig("files"), broker)
    sink.run()
    val lines = Files.readAllLines(out).asScala
    assert(lines.size == 2)
    assert(lines.head.contains("\"a\": \"x\"") && lines.head.contains("\"b\": 1"))
    assert(sink.status == Status.Stopped)
  }

  test("a decoded array is an ArraySeq equal to the List or Vector it was " +
      "encoded from, and its file sink JSON line is unchanged") {
    val schema = AvroCodec.parseable("""{"type": "record", "name": "A",
      "fields": [{"name": "xs", "type": {"type": "array", "items": "string"}},
                 {"name": "ys", "type": {"type": "array", "items": "long"}}]}""")
    val codec = AvroCodec.Compiled(schema)
    val values = Seq(
      Map("xs" -> List("a", "b"), "ys" -> Vector(1L, 2L, 3L)),
      Map("xs" -> Vector.empty[String], "ys" -> List(7L)))
    val decoded = values.map(v => codec.decode(codec.encode(v)).asInstanceOf[Map[String, Any]])
    assert(decoded == values)
    assert(decoded.forall(_.values.forall(_.isInstanceOf[scala.collection.immutable.ArraySeq[_]])))

    val broker = new InMemoryBroker()
    broker.registerSchema(3, schema.toString)
    values.foreach(v => broker.append("arrays", null, codec.encodeFramed(v, 3)))
    val out = Files.createTempFile("graft-sink", ".jsonl")
    new FileSink(out.toString, sinkConfig("arrays"), broker).run()
    assert(Files.readAllLines(out).asScala == Seq(
      """{"key": null, "value": {"xs": ["a", "b"], "ys": [1, 2, 3]}}""",
      """{"key": null, "value": {"xs": [], "ys": [7]}}"""))
  }

  test("file sink writes bytes and fixed fields as base64 strings") {
    val schema = AvroCodec.parseable("""{"type": "record", "name": "B",
      "fields": [{"name": "b", "type": "bytes"},
                 {"name": "f", "type": {"type": "fixed", "name": "F", "size": 2}}]}""")
    val codec = AvroCodec.Compiled(schema)
    val fixed = new org.apache.avro.generic.GenericData.Fixed(
      schema.getField("f").schema(), Array[Byte](-1, 0))
    val broker = new InMemoryBroker()
    broker.registerSchema(4, schema.toString)
    broker.append("bytes", null, codec.encodeFramed(
      Map("b" -> Array[Byte](0, 1, 2, -1), "f" -> fixed), 4))
    val out = Files.createTempFile("graft-sink", ".jsonl")
    new FileSink(out.toString, sinkConfig("bytes"), broker).run()
    assert(Files.readAllLines(out).asScala == Seq(
      """{"key": null, "value": {"b": "AAEC/w==", "f": "/wA="}}"""))
  }

  test("file source: offset survives restart, no duplicate production (E1)") {
    val broker = new InMemoryBroker()
    val in = Files.createTempFile("graft-src", ".jsonl")
    Files.write(in, Seq(
      """{"key": "k1", "value": "v1"}""",
      """{"key": "k2", "value": "v2"}""").asJava)
    new FileSource(in.toString, sourceConfig("files2"), broker).run()
    assert(broker.endOffset(TopicPartition("files2", 0)) == 2)
    // restart over the same (unchanged) file: seek to EOF, produce nothing
    new FileSource(in.toString, sourceConfig("files2"), broker).run()
    assert(broker.endOffset(TopicPartition("files2", 0)) == 2)
  }

  // ----------------------------------------------------- chaos property

  /** Consumer decorator injecting the chaos the reference exercises via
    * mock call-order assertions (test_pyconnectsink.py): commit
    * failures (transient — absorbed by K10 retry — or persistent →
    * crash) and a mid-run REBALANCE (revoke + reassign ≡ re-subscribe:
    * the in-memory position falls back to the last committed offset,
    * the at-least-once replay hazard). */
  private class ChaosConsumer(inner: TransportConsumer,
      var commitFailures: Int, rebalanceAtPoll: Option[Int],
      topics: Seq[String]) extends TransportConsumer {
    private var polls = 0
    def subscribe(ts: Seq[String]): Unit = inner.subscribe(ts)
    def poll(timeoutMs: Long): Poll = {
      polls += 1
      if (rebalanceAtPoll.contains(polls)) inner.subscribe(topics)
      inner.poll(timeoutMs)
    }
    def commit(offsets: Map[TopicPartition, Long]): Unit = {
      if (commitFailures > 0) {
        commitFailures -= 1; sys.error("commit failed (chaos)")
      }
      inner.commit(offsets)
    }
    def committed(tp: TopicPartition): Option[Long] = inner.committed(tp)
    def assignment: Seq[TopicPartition] = inner.assignment
    def lastMessage(topic: String): Option[Message] =
      inner.lastMessage(topic)
    def close(): Unit = inner.close()
  }

  private class ChaosSink(broker: InMemoryBroker, flushInterval: Int,
      failFlushAtMsg: Option[Int], commitFailures: Int,
      rebalanceAtPoll: Option[Int], flushedUnion: mutable.Set[String])
      extends GraftSink(sinkConfig(), broker) {
    private val pending = mutable.ArrayBuffer[String]()
    private var flushCrashArmed = failFlushAtMsg
    private var seen = 0
    private var iterations = 0
    override protected def makeConsumer(): TransportConsumer =
      new ChaosConsumer(broker.consumer(config.groupId),
        commitFailures, rebalanceAtPoll, config.topics)
    protected def onMessageReceived(msg: Message): Option[Status] = {
      seen += 1; pending += decodeFramed(msg.value).toString; None
    }
    override protected def needFlush(): Boolean =
      seen > 0 && seen % flushInterval == 0
    protected def onFlush(): Option[Status] = {
      if (flushCrashArmed.exists(_ <= seen) && pending.nonEmpty) {
        flushCrashArmed = None; sys.error("flush failed (chaos)")
      }
      // a SUCCESSFUL flush persists: only now may these records be
      // covered by a commit (K9's at-least-once contract)
      flushedUnion ++= pending; pending.clear(); None
    }
    override protected def onNoMessageReceived(): Option[Status] =
      if (hasPartitionAssignments && allPartitionsAtEof)
        Some(Status.Stopped)
      else None
    override protected def runOnce(): Option[Status] = {
      iterations += 1
      if (iterations > 500) sys.error("loop safety limit hit")
      super.runOnce()
    }
  }

  test("CHAOS PROPERTY (round-12, verdict r11): random interleavings " +
      "of produce / flush-crash / commit-failure / mid-run rebalance " +
      "across restarts preserve at-least-once — a committed offset is " +
      "NEVER ahead of the flushed set, and a final clean incarnation " +
      "drains every produced record") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    case class Phase(produceN: Int, flushInterval: Int,
      failFlushAt: Option[Int], commitFailures: Int,
      rebalanceAtPoll: Option[Int])
    val phase: Gen[Phase] = for {
      n <- Gen.choose(0, 5)
      fi <- Gen.choose(1, 3)
      ff <- Gen.option(Gen.choose(1, 5))
      // 0 = healthy, 1 = transient (absorbed by K10 retry),
      // 99 = persistent (this incarnation crashes on commit)
      cf <- Gen.frequency(4 -> Gen.const(0), 2 -> Gen.const(1),
        1 -> Gen.const(99))
      rb <- Gen.option(Gen.choose(1, 8))
    } yield Phase(n, fi, ff, cf, rb)
    val scenario: Gen[List[Phase]] = Gen.choose(1, 4)
      .flatMap(k => Gen.listOfN(k, phase))
    val prop = Prop.forAll(scenario) { phases =>
      val broker = new InMemoryBroker()
      val flushedUnion = mutable.Set[String]()
      var produced = 0
      def committedOffset: Long =
        broker.committed("g", TopicPartition("t", 0)).getOrElse(0L)
      def produceMore(n: Int, tag: Int): Unit = if (n > 0) {
        val cfg = SourceConfig.fromMap(Map(
          "bootstrap_servers" -> "localhost:9092",
          "schema_registry" -> "http://localhost:8081",
          "topic" -> "t", "offset_topic" -> s"t-offsets-$tag"))
        new TestSource((produced until produced + n)
          .map(i => (s"k$i", s"v$i")), broker, cfg).run()
        produced += n
      }
      var invariant = true
      phases.zipWithIndex.foreach { case (ph, i) =>
        produceMore(ph.produceN, i)
        val sink = new ChaosSink(broker, ph.flushInterval,
          ph.failFlushAt, ph.commitFailures, ph.rebalanceAtPoll,
          flushedUnion)
        try sink.run() catch { case _: RuntimeException => () }
        // K9 invariant after EVERY incarnation, crashed or not:
        // committed ⇒ previously flushed
        invariant &&= (0L until committedOffset)
          .forall(o => flushedUnion.contains(s"v$o"))
      }
      // final clean incarnation drains everything that was produced
      produceMore(1, 1000) // ensure at least one record exists overall
      val fin = new ChaosSink(broker, 1, None, 0, None, flushedUnion)
      fin.run()
      invariant &&
        committedOffset == produced.toLong &&
        (0 until produced).forall(i => flushedUnion.contains(s"v$i"))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }
}
