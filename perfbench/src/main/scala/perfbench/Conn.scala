package perfbench

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicReference

import scala.util.control.NonFatal

import org.apache.avro.SchemaNormalization

import graft.avro.{AvroCodec, AvroInference}
import graft.config.{SinkConfig, SourceConfig}
import graft.core._

/** Connector workloads: a seeded generator feeds a `GraftSource` into an
  * `InMemoryBroker`, then a `GraftSink` drains it. Closed loop, one
  * source thread then one sink thread per pass; every pass uses a fresh
  * broker and fresh connectors over the same generated records.
  *
  * The harness only subclasses the connectors and overrides their
  * protected seams (`produce`, `commitOffset`, `makeConsumer`,
  * `decodeFramed`); the timing overrides are active only in traced passes.
  */
object Conn {

  /** `flushEvery == 1` keeps the sink's default flush gate (flush and
    * commit on every loop iteration). */
  final case class Spec(name: String, nested: Boolean, partitions: Int,
      flushEvery: Int, records: Int)

  val workloads: Map[String, Spec] = Seq(
    Spec("conn-flat-flush1", nested = false, partitions = 1, flushEvery = 1,
      records = 60000),
    Spec("conn-nested-batch", nested = true, partitions = 4,
      flushEvery = 1000, records = 16000),
  ).map(s => s.name -> s).toMap

  /** The sink's heap retention is global and grows with every record
    * decoded in the process, so a run is a fixed amount of work, never
    * time-boxed: a cold pass and this many warm passes keep the retention
    * inside the fixed heap. */
  val WarmPasses = 3

  private val Topic = "bench"
  private val Group = "bench-sink"
  private val brokerCfg = Map(
    "bootstrap_servers" -> "localhost:9092",
    "schema_registry" -> "http://localhost:8081")
  val sourceConfig: SourceConfig = SourceConfig.fromMap(brokerCfg ++ Map(
    "topic" -> Topic, "offset_topic" -> s"$Topic-offsets"))
  val sinkConfig: SinkConfig = SinkConfig.fromMap(brokerCfg ++ Map(
    "group_id" -> Group, "topics" -> Topic))

  // ---- inputs -----------------------------------------------------------

  /** Generated records plus the content hash of each key and value. */
  final class Inputs(val keys: Array[Any], val values: Array[Any]) {
    val n: Int = keys.length
    val keyHash: Array[Long] = keys.map(Content.hash)
    val valueHash: Array[Long] = values.map(Content.hash)
  }

  /** Seeded record generator. Flat: 5-field value, `long` key. Nested: 12
    * top-level fields with two nested record levels (distinct record
    * names), a 4-string array, a 64-byte `bytes` field and a 2-field key. */
  def generate(seed: Long, nested: Boolean, n: Int): Inputs = {
    val rnd = new scala.util.Random(seed)
    def str(len: Int): String = {
      val cs = new Array[Char](len)
      var i = 0
      while (i < len) { cs(i) = ('a' + rnd.nextInt(26)).toChar; i += 1 }
      new String(cs)
    }
    def cents(max: Int): Double = rnd.nextInt(max) / 100.0
    val keys = new Array[Any](n)
    val values = new Array[Any](n)
    var i = 0
    while (i < n) {
      val id = i.toLong
      if (!nested) {
        keys(i) = id
        values(i) = Map("id" -> id, "name" -> str(10),
          "price" -> cents(100000), "qty" -> rnd.nextInt(1000).toLong,
          "active" -> rnd.nextBoolean())
      } else {
        keys(i) = Map("id" -> id, "region" -> s"r${rnd.nextInt(8)}")
        val payload = new Array[Byte](64)
        rnd.nextBytes(payload)
        values(i) = Map(
          "id" -> id, "user" -> str(12), "amount" -> cents(10000000),
          "active" -> rnd.nextBoolean(),
          "created" -> (1700000000000L + rnd.nextInt(1000000000)),
          "tags" -> Seq.fill(4)(str(6)), "payload" -> payload,
          "note" -> str(24), "score" -> rnd.nextDouble(),
          "geo" -> Map("lat" -> cents(18000), "lon" -> cents(36000),
            "city" -> str(8),
            "place" -> Map("zip" -> str(5), "street" -> str(16),
              "number" -> rnd.nextInt(10000).toLong)),
          "device" -> Map("os" -> s"os${rnd.nextInt(4)}",
            "version" -> str(4), "model" -> str(10)),
          "count" -> rnd.nextInt(100000).toLong)
      }
      i += 1
    }
    new Inputs(keys, values)
  }

  /** Record index carried in a decoded key. */
  def indexOf(key: Any): Int = key match {
    case l: Long => l.toInt
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]("id").asInstanceOf[Long].toInt
    case _ => -1
  }

  // ---- connectors ---------------------------------------------------------

  /** Growable array of nanosecond samples. */
  final class Samples(initial: Int = 1024) {
    private var xs = new Array[Long](math.max(16, initial))
    var n = 0
    def add(v: Long): Unit = {
      if (n == xs.length) xs = java.util.Arrays.copyOf(xs, n * 2)
      xs(n) = v; n += 1
    }
    def sum: Long = { var s = 0L; var i = 0; while (i < n) { s += xs(i); i += 1 }; s }
    def quantile(q: Double): Double = Stats.quantileOf(xs, n, q)
  }

  final class BenchSource(broker: InMemoryBroker, in: Inputs, traced: Boolean)
      extends GraftSource(sourceConfig, broker) {
    private var pos = 0
    val readNs = new Samples(if (traced) in.n else 16)
    val produceNs = new Samples(if (traced) in.n else 16)
    var commitNs = 0L

    def read(): Option[(Any, Any)] =
      if (!traced) next()
      else {
        val t0 = System.nanoTime()
        val r = next()
        readNs.add(System.nanoTime() - t0)
        r
      }
    private def next(): Option[(Any, Any)] =
      if (pos < in.n) { val r = (in.keys(pos), in.values(pos)); pos += 1; Some(r) }
      else None
    def seek(index: Any): Unit = pos = index.asInstanceOf[Long].toInt
    def getIndex: Any = pos.toLong
    override protected def onEof(): Option[Status] = Some(Status.Stopped)

    override protected def produce(key: Any, value: Any): Unit =
      if (!traced) super.produce(key, value)
      else {
        val t0 = System.nanoTime()
        super.produce(key, value)
        produceNs.add(System.nanoTime() - t0)
      }

    override protected def commitOffset(): Unit =
      if (!traced) super.commitOffset()
      else {
        val t0 = System.nanoTime()
        super.commitOffset()
        commitNs += System.nanoTime() - t0
      }
  }

  /** Consumer wrapper timing every poll and commit (traced passes). */
  final class TimingConsumer(inner: TransportConsumer) extends TransportConsumer {
    val pollNs = new Samples(1 << 16)
    val commitNs = new Samples(1 << 10)
    var hits = 0L
    def subscribe(topics: Seq[String]): Unit = inner.subscribe(topics)
    def poll(timeoutMs: Long): Poll = {
      val t0 = System.nanoTime()
      val p = inner.poll(timeoutMs)
      pollNs.add(System.nanoTime() - t0)
      if (p.isInstanceOf[Poll.Record]) hits += 1
      p
    }
    def commit(offsets: Map[TopicPartition, Long]): Unit = {
      val t0 = System.nanoTime()
      inner.commit(offsets)
      commitNs.add(System.nanoTime() - t0)
    }
    def committed(tp: TopicPartition): Option[Long] = inner.committed(tp)
    def assignment: Seq[TopicPartition] = inner.assignment
    def lastMessage(topic: String): Option[Message] = inner.lastMessage(topic)
    def close(): Unit = inner.close()
  }

  /** Checks every delivered record against the generated one. `fault`
    * wraps the consumer (the self-test injects dropped, duplicated and
    * corrupted records there). */
  final class BenchSink(broker: InMemoryBroker, in: Inputs, flushEvery: Int,
      traced: Boolean, gaps: Samples,
      fault: TransportConsumer => TransportConsumer = identity)
      extends GraftSink(sinkConfig, broker) {
    val seen = new java.util.BitSet(in.n)
    var duplicates = 0L
    var corrupt = 0L
    private var sinceFlush = 0
    private var lastNs = 0L
    val decodeNs = new Samples(if (traced) 2 * in.n else 16)
    var userNs = 0L
    var timing: TimingConsumer = _

    override protected def makeConsumer(): TransportConsumer = {
      val base = fault(super.makeConsumer())
      if (traced) { timing = new TimingConsumer(base); timing } else base
    }

    override protected def beforeRunLoop(): Unit = {
      super.beforeRunLoop()
      lastNs = System.nanoTime()
    }

    override protected def decodeFramed(bytes: Array[Byte]): Any =
      if (!traced) super.decodeFramed(bytes)
      else {
        val t0 = System.nanoTime()
        val r = super.decodeFramed(bytes)
        decodeNs.add(System.nanoTime() - t0)
        r
      }

    protected def onMessageReceived(msg: Message): Option[Status] = {
      val t0 = System.nanoTime()
      if (gaps != null) gaps.add(t0 - lastNs)
      lastNs = t0
      try {
        val k = decodeFramed(msg.key)
        val v = decodeFramed(msg.value)
        val idx = indexOf(k)
        if (idx < 0 || idx >= in.n || in.keyHash(idx) != Content.hash(k) ||
            in.valueHash(idx) != Content.hash(v)) corrupt += 1
        else if (seen.get(idx)) duplicates += 1
        else seen.set(idx)
      } catch { case NonFatal(_) => corrupt += 1 }
      sinceFlush += 1
      if (traced) userNs += System.nanoTime() - t0
      None
    }

    protected def onFlush(): Option[Status] = {
      sinceFlush = 0
      None
    }

    override protected def needFlush(): Boolean =
      if (flushEvery <= 1) super.needFlush() else sinceFlush >= flushEvery

    override protected def onEofReceived(tp: TopicPartition): Option[Status] =
      if (allPartitionsAtEof) Some(Status.Stopped) else None
  }

  // ---- one pass -------------------------------------------------------

  final case class PassOut(sourceS: Double, sinkS: Double,
      heapBefore: Long, heapAfter: Long, failed: Long, problems: Seq[String],
      layers: Map[String, Double])

  private final case class SinkOut(sinkS: Double, failed: Long,
      problems: Seq[String], layers: Map[String, Double])

  private def onThread[T](name: String)(body: => T): T = {
    val box = new AtomicReference[Either[Throwable, T]]()
    val t = new Thread(() => box.set(try Right(body) catch { case e: Throwable => Left(e) }), name)
    t.start(); t.join()
    box.get.fold(e => throw e, identity)
  }

  /** Source phase, then sink phase, each on a fresh thread. The sink
    * thread stays alive, with everything but its thread-locals released,
    * while the heap is measured: a long-running sink keeps whatever its
    * thread retains. */
  def runPass(spec: Spec, in: Inputs, traced: Boolean, gaps: Samples,
      fault: TransportConsumer => TransportConsumer = identity,
      heapBefore: Long = Heap.usedAfterGc()): PassOut = {
    val brokerBox = new AtomicReference(new InMemoryBroker(spec.partitions))
    val (sourceS, srcLayers) = onThread("bench-source") {
      val src = new BenchSource(brokerBox.get, in, traced)
      val (_, s) = Clock.seconds(src.run())
      val layers = if (!traced) Map.empty[String, Double] else Map(
        "core.source.produce_us" -> src.produceNs.quantile(0.5) / 1e3,
        "core.source.produce_calls" -> src.produceCount.toDouble,
        "core.source.commit_offset_ms" -> src.commitNs / 1e6,
        "gen.read_us" -> src.readNs.quantile(0.5) / 1e3)
      (s, layers)
    }
    val sinkOut = new AtomicReference[Either[Throwable, SinkOut]]()
    val done = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val sinkThread = new Thread(() => {
      sinkOut.set(try Right(sinkPhase(spec, brokerBox.getAndSet(null), in,
        traced, gaps, fault)) catch { case e: Throwable => Left(e) })
      done.countDown()
      release.await()
    }, "bench-sink")
    sinkThread.start()
    done.await()
    val heapAfter = Heap.usedAfterGc()
    release.countDown()
    sinkThread.join()
    val k = sinkOut.get.fold(e => throw e, identity)
    PassOut(sourceS, k.sinkS, heapBefore, heapAfter, k.failed, k.problems,
      srcLayers ++ k.layers)
  }

  private def sinkPhase(spec: Spec, broker: InMemoryBroker, in: Inputs,
      traced: Boolean, gaps: Samples,
      fault: TransportConsumer => TransportConsumer): SinkOut = {
    val sink = new BenchSink(broker, in, spec.flushEvery, traced, gaps, fault)
    val (crash, sinkS) = Clock.seconds(
      try { sink.run(); None } catch { case NonFatal(e) => Some(e) })
    val problems = Seq.newBuilder[String]
    var failed = 0L
    def fail(count: Long, what: String): Unit =
      if (count > 0) { failed += count; problems += s"$what: $count" }
    crash.foreach(e => fail(1, s"sink crashed (${e.getClass.getSimpleName})"))
    fail(in.n - sink.seen.cardinality(), "records not delivered")
    fail(sink.duplicates, "duplicate records")
    fail(sink.corrupt, "corrupt records")
    val tps = broker.partitionsOf(Topic)
    fail(tps.count(tp => !broker.committed(Group, tp).contains(broker.endOffset(tp))),
      "partitions whose committed offset is not the end offset")
    val lastOffset = broker.consumer("bench-check").lastMessage(s"$Topic-offsets")
      .map(m => AvroCodec.decode(AvroCodec.unframe(m.value)._2, AvroCodec.parseable("\"long\"")))
    fail(if (lastOffset.contains(in.n.toLong)) 0 else 1,
      s"offset-topic value ${lastOffset.getOrElse("missing")} != ${in.n}")
    val layers = if (!traced) Map.empty[String, Double] else {
      val t = sink.timing
      val decodeSum = sink.decodeNs.sum
      val userNs = sink.userNs - decodeSum
      val loopSelf = sinkS * 1e9 - t.pollNs.sum - decodeSum - t.commitNs.sum - userNs
      Map(
        "core.sink.poll_us" -> t.pollNs.quantile(0.5) / 1e3,
        "core.sink.polls" -> t.pollNs.n.toDouble,
        "core.sink.poll_hit_ratio" -> t.hits.toDouble / math.max(1, t.pollNs.n),
        "core.sink.commit_us" -> t.commitNs.quantile(0.5) / 1e3,
        "core.sink.commits" -> t.commitNs.n.toDouble,
        "core.sink.decode_us" -> sink.decodeNs.quantile(0.5) / 1e3,
        "core.sink.loop_self_ms" -> loopSelf / 1e6,
        "gen.sink_user_ms" -> userNs / 1e6)
    }
    SinkOut(sinkS, failed, problems.result(), layers)
  }

  // ---- graft.avro microbench -------------------------------------------

  /** Per-call costs of the Avro steps the connectors take per record,
    * on the workload's own values. */
  def avroMicro(in: Inputs, calls: Int): Map[String, Double] = {
    val m = math.min(calls, in.n)
    val valueJson = AvroInference.toValueSchema(in.values(0))
    val schema = AvroCodec.parseable(valueJson)
    def perCall(f: Int => Any): Double = {
      val s = new Samples(m)
      var i = 0
      while (i < m) {
        val t0 = System.nanoTime(); f(i); s.add(System.nanoTime() - t0); i += 1
      }
      s.quantile(0.5) / 1e3
    }
    val payloads = Array.tabulate(m)(i => AvroCodec.encode(in.values(i), schema))
    // warm each path once before timing it
    for (_ <- 0 until 2) {
      perCall(i => AvroInference.toValueSchema(in.values(i)))
      perCall(_ => AvroCodec.parseable(valueJson))
      perCall(_ => SchemaNormalization.parsingFingerprint64(schema))
      perCall(_ => schema.toString)
      perCall(i => AvroCodec.encode(in.values(i), schema))
      perCall(i => AvroCodec.decode(payloads(i), schema))
    }
    val out = Map(
      "avro.infer_us" -> perCall(i => AvroInference.toValueSchema(in.values(i))),
      "avro.parse_us" -> perCall(_ => AvroCodec.parseable(valueJson)),
      "avro.fingerprint_us" -> perCall(_ => SchemaNormalization.parsingFingerprint64(schema)),
      "avro.schema_tostring_us" -> perCall(_ => schema.toString),
      "avro.encode_us" -> perCall(i => AvroCodec.encode(in.values(i), schema)),
      "avro.decode_us" -> perCall(i => AvroCodec.decode(payloads(i), schema)),
      "avro.frame_bytes" -> payloads.map(_.length + 5).sum.toDouble / m)
    out + ("avro.retained_bytes_per_parse_decode" -> retainedPerParseDecode(valueJson, payloads))
  }

  /** Heap kept, per call, by decoding with a freshly parsed schema; the
    * decoding thread stays alive while the heap is measured. */
  private def retainedPerParseDecode(json: String, payloads: Array[Array[Byte]]): Double = {
    val done = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val before = Heap.usedAfterGc()
    val t = new Thread(() => {
      payloads.foreach(p => AvroCodec.decode(p, AvroCodec.parseable(json)))
      done.countDown(); release.await()
    }, "bench-avro-retention")
    t.start(); done.await()
    val after = Heap.usedAfterGc()
    release.countDown(); t.join()
    (after - before).toDouble / payloads.length
  }

  // ---- workload ---------------------------------------------------------

  def run(a: Main.Args, spec: Spec): Result = {
    val setups = (1 to 3).map(_ => Clock.seconds(generate(a.seed, spec.nested, spec.records)))
    val in = setups.last._1
    val setupS = Stats.median(setups.map(_._2))
    val problems = scala.collection.mutable.LinkedHashSet[String]()
    var attempted = 0L
    var failed = 0L
    var heap = Heap.usedAfterGc()
    def pass(traced: Boolean, gaps: Samples): PassOut = {
      // nothing runs between passes, so one pass's closing heap reading
      // is the next one's opening reading
      val p = runPass(spec, in, traced, gaps, heapBefore = heap)
      heap = p.heapAfter
      attempted += in.n; failed += p.failed; problems ++= p.problems
      p
    }
    def wall(p: PassOut) = p.sourceS + p.sinkS
    val cold = pass(traced = false, null)
    val metrics: Seq[(String, Metric)] =
      if (!a.trace) {
        val gaps = new Samples(in.n * WarmPasses)
        val warm = (1 to WarmPasses).map(_ => pass(traced = false, gaps))
        Seq(
          "setup_s" -> Metric(setupS, "s"),
          "cold_pass_s" -> Metric(wall(cold), "s"),
          "warm_pass_s" -> Metric(Stats.median(warm.map(wall)), "s"),
          "op_p50_ms" -> Metric(gaps.quantile(0.5) / 1e6, "ms"),
          "op_p90_ms" -> Metric(gaps.quantile(0.9) / 1e6, "ms"),
          "heap_mb" -> Metric(warm.last.heapAfter / 1e6, "MB"))
      } else {
        // untraced and traced passes alternate, so both see the same
        // heap growth and the difference is the tracing overhead
        val pairs = (1 to 3).map(_ => (pass(traced = false, null), pass(traced = true, null)))
        val (plain, traced) = (pairs.map(_._1), pairs.map(_._2))
        val conn = Map(
          "conn.source_rec_per_s" -> Stats.median(plain.map(in.n / _.sourceS)),
          "conn.sink_rec_per_s" -> Stats.median(plain.map(in.n / _.sinkS)),
          "conn.retained_bytes_per_rec" ->
            Stats.median(plain.map(p => (p.heapAfter - p.heapBefore).toDouble / in.n)),
          "trace.overhead_pct" ->
            100 * (Stats.median(traced.map(wall)) / Stats.median(plain.map(wall)) - 1))
        val layers = traced.head.layers.keys.map(k => k -> Stats.median(traced.map(_.layers(k))))
        val values = layers.toMap ++ avroMicro(in, 5000) ++ conn
        Json.write(a.root.resolve(s".bench_build/trace/${spec.name}-seed${a.seed}.json"),
          Json.obj(Seq("workload" -> Json.str(spec.name), "seed" -> a.seed.toString,
            "summary" -> Json.obj(values.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
            "passes" -> traced.map(p => Json.obj(p.layers.toSeq.sortBy(_._1)
              .map { case (k, v) => k -> Json.num(v) })).mkString("[\n", ",\n", "\n]"))) + "\n")
        PerLayer.metrics(values)
      }
    problems.foreach(p => System.err.println(s"[perfbench] ${spec.name}: $p"))
    Result(failed == 0, attempted, failed, metrics)
  }

}

/** Order-independent content hash of generated and decoded values. */
object Content {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(v: Any): Long = v match {
    case null => 0x6A09E667F3BCC909L
    case m: Map[_, _] =>
      m.foldLeft(0x3C6EF372FE94F82BL) { case (acc, (k, x)) =>
        acc + mix(hash(k) * 31 + hash(x))
      }
    case s: Seq[_] => s.foldLeft(0xBB67AE8584CAA73BL)((acc, x) => mix(acc * 31 + hash(x)))
    case b: Array[Byte] => mix(scala.util.hashing.MurmurHash3.bytesHash(b).toLong * 31 + b.length)
    case s: String => mix(s.hashCode.toLong * 31 + s.length)
    case l: Long => mix(l)
    case i: Int => mix(i.toLong)
    case d: Double => mix(java.lang.Double.doubleToLongBits(d) ^ 0x5555555555555555L)
    case b: Boolean => if (b) 0x510E527FADE682D1L else 0x1F83D9ABFB41BD6BL
    case other => mix(other.hashCode.toLong)
  }
}
