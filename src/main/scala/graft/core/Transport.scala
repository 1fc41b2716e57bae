package graft.core

import scala.collection.{immutable, mutable}

/** Message-plane abstraction. The reference talks to Kafka through
  * confluent-kafka clients; offline this repo has no Kafka broker or
  * client jar, so connectors are written against this seam (exactly the
  * reference's own test strategy — its unit suite mocks the clients,
  * `test/test_pyconnectsink.py:30-32`). `InMemoryBroker` implements
  * partitioned, replayable, committed-offset semantics for tests;
  * `graft.sources.KafkaOptions` builds the real Spark Kafka options for
  * cluster deployments (SURVEY.md §2-A S13/K3 passthrough).
  */
final case class TopicPartition(topic: String, partition: Int) {
  /** Computed once: partitions key the committed offsets and the sink's
    * partition states. */
  override val hashCode: Int = scala.util.hashing.MurmurHash3.productHash(this)
}

final case class Message(
    key: Array[Byte], value: Array[Byte],
    topic: String, partition: Int, offset: Long) {
  /** `core.py:15-25` message_repr parity (minus error, carried in Poll). */
  def repr: String =
    s"Message(topic=$topic, partition=$partition, offset=$offset, " +
      s"key=${Option(key).map(_.length).getOrElse(0)}b, " +
      s"value=${Option(value).map(_.length).getOrElse(0)}b)"
}

/** Poll classification (`pyconnectsink.py:20-58`). */
sealed trait Poll
object Poll {
  final case class Record(msg: Message) extends Poll
  case object NoMessage extends Poll
  final case class Eof(tp: TopicPartition, nextOffset: Long) extends Poll
  final case class Failure(error: Throwable) extends Poll
}

trait TransportProducer {
  def produce(topic: String, key: Array[Byte], value: Array[Byte]): Unit
  def flush(): Unit
}

trait TransportConsumer {
  def subscribe(topics: Seq[String]): Unit
  def poll(timeoutMs: Long): Poll
  def commit(offsets: Map[TopicPartition, Long]): Unit
  def committed(tp: TopicPartition): Option[Long]
  def assignment: Seq[TopicPartition]
  /** Read the last record currently in a single-partition topic (the
    * reference's source-offset fetch, `pyconnectsource.py:96-110`). */
  def lastMessage(topic: String): Option[Message]
  def close(): Unit
}

/** Single-process broker with per-partition logs, consumer-group commits,
  * and partition-EOF signalling (enable.partition.eof parity). */
final class InMemoryBroker(numPartitions: Int = 1) {
  private type Log = mutable.ArrayBuffer[(Array[Byte], Array[Byte])]
  /** Every partition's log of a topic, by partition, made at the topic's
    * first use: an append finds its log with one lookup by topic name. */
  private val topicLogs = new java.util.HashMap[String, Array[Log]]()
  /** Committed offsets by consumer group. */
  private val committedOffsets = mutable.Map[String, mutable.Map[TopicPartition, Long]]()
  private val schemas = mutable.Map[Int, String]()

  /** In-memory stand-in for the Confluent schema registry: id ↔ schema
    * JSON, so sinks can resolve the frame's schema id (SURVEY §7.4.1). */
  def registerSchema(id: Int, json: String): Unit =
    synchronized { schemas(id) = json }
  def schemaById(id: Int): Option[String] = synchronized(schemas.get(id))

  private def logsOf(topic: String): Array[Log] = synchronized {
    var l = topicLogs.get(topic)
    if (l == null) {
      l = Array.fill(numPartitions)(mutable.ArrayBuffer.empty)
      topicLogs.put(topic, l)
    }
    l
  }

  /** A partition the topic does not have reads as an empty log. */
  private def log(tp: TopicPartition): Log =
    if (tp.partition < 0 || tp.partition >= numPartitions) mutable.ArrayBuffer.empty
    else logsOf(tp.topic)(tp.partition)

  /** Every partition of `topic`, whether or not it holds data yet. */
  def partitionsOf(topic: String): Seq[TopicPartition] =
    (0 until numPartitions).map(TopicPartition(topic, _))

  def append(topic: String, key: Array[Byte], value: Array[Byte]): Unit = {
    val partition =
      if (numPartitions == 1) 0
      else math.floorMod(java.util.Arrays.hashCode(key), numPartitions) // null → 0
    // append must happen inside the broker monitor: a producer's
    // produce() racing a consumer poll()/read() would otherwise mutate
    // the ArrayBuffer unsynchronized (resize corruption)
    synchronized { logsOf(topic)(partition) += ((key, value)) }
  }

  def endOffset(tp: TopicPartition): Long = synchronized(log(tp).length.toLong)

  def read(tp: TopicPartition, offset: Long): Option[Message] = synchronized {
    val l = log(tp)
    if (offset >= 0 && offset < l.length) {
      val (k, v) = l(offset.toInt)
      Some(Message(k, v, tp.topic, tp.partition, offset))
    } else None
  }

  private def offsetsOf(group: String): mutable.Map[TopicPartition, Long] =
    synchronized(committedOffsets.getOrElseUpdate(group, mutable.Map.empty))

  def commit(group: String, tp: TopicPartition, offset: Long): Unit =
    synchronized { offsetsOf(group)(tp) = offset }

  def committed(group: String, tp: TopicPartition): Option[Long] =
    synchronized(offsetsOf(group).get(tp))

  /** Delivers each record when it is produced, in produce order; `flush`
    * has nothing left to wait for. The reference's librdkafka producer
    * delivers within `linger.ms` and uses flush only as a barrier
    * (`pyconnectsource.py:163-175`, flush at `:236-238`). */
  def producer(): TransportProducer = new TransportProducer {
    def produce(topic: String, key: Array[Byte], value: Array[Byte]): Unit =
      append(topic, key, value)
    def flush(): Unit = ()
  }

  def consumer(group: String): TransportConsumer = new TransportConsumer {
    // per assignment slot, resolved at subscribe: a poll hashes nothing
    private var tps: Array[TopicPartition] = Array.empty
    private var logs: Array[Log] = Array.empty
    private var positions: Array[Long] = Array.emptyLongArray
    private var eofSignalled: Array[Boolean] = Array.emptyBooleanArray
    /** Slot of the partition the next poll tries first. */
    private var cursor = 0
    private var closed = false
    private val groupOffsets = offsetsOf(group)

    def subscribe(topics: Seq[String]): Unit = {
      tps = topics.flatMap(partitionsOf).toArray
      logs = tps.map(log)
      // auto.offset.reset=earliest unless a commit exists (K3 parity)
      positions = tps.map(InMemoryBroker.this.committed(group, _).getOrElse(0L))
      eofSignalled = new Array[Boolean](tps.length)
      cursor = 0
    }

    /** The record at slot `at`'s position, or null when it is caught up. */
    private def next(at: Int): (Array[Byte], Array[Byte]) = {
      val l = logs(at)
      val pos = positions(at)
      InMemoryBroker.this.synchronized(if (pos < l.length) l(pos.toInt) else null)
    }

    def poll(timeoutMs: Long): Poll = {
      require(!closed, "consumer closed")
      // round-robin across assigned partitions: start after the partition
      // that delivered last, read each record once
      val n = tps.length
      var at = cursor
      var i = 0
      while (i < n) {
        if (at >= n) at = 0
        val kv = next(at)
        if (kv != null) {
          val tp = tps(at)
          val offset = positions(at)
          positions(at) = offset + 1
          eofSignalled(at) = false
          cursor = at + 1
          return Poll.Record(Message(kv._1, kv._2, tp.topic, tp.partition, offset))
        }
        at += 1
        i += 1
      }
      // EOF signalled once per catch-up, re-armed when new data arrives
      // (partition-EOF parity)
      val eof = eofSignalled.indexOf(false)
      if (eof < 0) Poll.NoMessage
      else {
        eofSignalled(eof) = true
        Poll.Eof(tps(eof), positions(eof))
      }
    }

    def commit(offsets: Map[TopicPartition, Long]): Unit =
      InMemoryBroker.this.synchronized(offsets.foreachEntry(groupOffsets.update(_, _)))

    def committed(tp: TopicPartition): Option[Long] =
      InMemoryBroker.this.committed(group, tp)

    // tps is replaced at subscribe, never written in place
    def assignment: Seq[TopicPartition] = immutable.ArraySeq.unsafeWrapArray(tps)

    def lastMessage(topic: String): Option[Message] = {
      val parts = partitionsOf(topic)
      parts.flatMap(tp => read(tp, endOffset(tp) - 1)).lastOption
    }

    def close(): Unit = closed = true // double-close tolerated
  }
}
