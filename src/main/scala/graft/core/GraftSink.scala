package graft.core

import scala.collection.mutable

import graft.avro.AvroCodec
import graft.config.SinkConfig

/** Sink connector — reference parity with `pyconnectsink.py`
  * (SURVEY.md §2-A K1–K16).
  *
  * Contract replicated:
  *  - poll → classify → dispatch (K1/K2);
  *  - offset bookkeeping: next offset = message offset + 1 per
  *    (topic, partition) (K5);
  *  - EOF flags per partition, reset on new data / assignment (K6/K11);
  *  - flush gate `needFlush` — default: every message (K8);
  *  - flush-then-commit ordering, commit SKIPPED if flush crashed (K9) →
  *    at-least-once delivery;
  *  - commit retry with `sinkCommitRetryCount` attempts (K10);
  *  - deserialization-error policy: tolerate transient consume errors,
  *    crash on poison pills (K14) — `failFast` option;
  *  - one final flush on graceful stop, never after a crash (K15);
  *  - close tolerates double-close (K16).
  *
  * Each schema id is resolved and compiled once per sink instance; ids
  * are only unique within one registry, so the cache is not shared.
  */
abstract class GraftSink(val config: SinkConfig, broker: InMemoryBroker)
    extends BaseConnector {

  /** Overridable for tests that inject transport errors (the reference's
    * mocked-client seam). */
  protected def makeConsumer(): TransportConsumer =
    broker.consumer(config.groupId)
  protected lazy val consumer: TransportConsumer = makeConsumer()

  /** Next offset and EOF flag of one partition; `pending` while its
    * offset is not yet committed. */
  private final class PartitionState(val tp: TopicPartition) {
    var next = -1L // none until a record or an EOF gives one (K6)
    var eof = false
    var pending = false
  }
  private val partitions = new java.util.HashMap[TopicPartition, PartitionState]()
  /** The last record's partition: a run of records from one partition
    * looks it up once. */
  private var last: PartitionState = _
  /** Partitions whose offset moved since the last successful commit:
    * offsets already on the broker are not committed again. */
  private val pending = mutable.ArrayBuffer[PartitionState]()
  /** What a commit sends: every partition's next offset. A commit
    * updates only the `pending` partitions in it. */
  private var toCommit = Map.empty[TopicPartition, Long]

  private val codecs = mutable.LongMap[AvroCodec.Compiled]()

  var flushCount: Long = 0L
  var messageCount: Long = 0L
  private var commitCount = 0L
  private var commitRetries = 0L
  private var lastFlushToCommitMs: Option[Double] = None

  // ---- abstract API (K4/K8/K9) ----------------------------------------
  /** Per-message user logic (buffer/persist). */
  protected def onMessageReceived(msg: Message): Option[Status]
  /** Persist buffered work; called before the matching commit. */
  protected def onFlush(): Option[Status]
  /** Flush gate — default: every message (`pyconnectsink.py:274-286`). */
  protected def needFlush(): Boolean = true
  /** Idle callback (`pyconnectsink.py:148-154`). */
  protected def onNoMessageReceived(): Option[Status] = None
  protected def onErrorReceived(error: Throwable): Option[Status] = None

  /** Decode a Confluent-framed Avro payload by resolving the frame's
    * schema id against the broker registry (K3's deserializer role). */
  protected def decodeFramed(bytes: Array[Byte]): Any = {
    val id = AvroCodec.schemaIdOf(bytes)
    var codec = codecs.getOrNull(id)
    if (codec == null) {
      val schemaJson = broker.schemaById(id).getOrElse(
        throw new IllegalStateException(s"unknown schema id $id (poison pill)"))
      codec = AvroCodec.Compiled(AvroCodec.parseable(schemaJson))
      codecs(id) = codec
    }
    codec.decodeChecked(bytes)
  }

  def hasPartitionAssignments: Boolean = consumer.assignment.nonEmpty
  def allPartitionsAtEof: Boolean =
    consumer.assignment.nonEmpty && consumer.assignment.forall { tp =>
      val p = partitions.get(tp)
      p != null && p.eof
    }

  // ---- lifecycle -------------------------------------------------------
  override protected def beforeRunLoop(): Unit =
    consumer.subscribe(config.topics)

  override protected def runOnce(): Option[Status] = {
    val polled = consumer.poll(config.pollTimeout.toMillis)
    val flushed = flushIfNeeded()
    if (flushed.isDefined) flushed else dispatch(polled)
  }

  private def stateOf(topic: String, partition: Int): PartitionState = {
    val p = last
    if (p != null && p.tp.partition == partition && p.tp.topic == topic) p
    else stateOf(TopicPartition(topic, partition))
  }

  private def stateOf(tp: TopicPartition): PartitionState = {
    var p = partitions.get(tp)
    if (p == null) { p = new PartitionState(tp); partitions.put(tp, p) }
    last = p
    p
  }

  private def setNext(p: PartitionState, next: Long): Unit = {
    p.next = next
    if (!p.pending) { p.pending = true; pending += p }
  }

  private def dispatch(polled: Poll): Option[Status] = polled match {
    case Poll.Record(msg) =>
      messageCount += 1
      val p = stateOf(msg.topic, msg.partition)
      p.eof = false
      val res = onMessageReceived(msg)
      setNext(p, msg.offset + 1) // K5: +1 semantics
      res
    case Poll.Eof(tp, nextOffset) =>
      val p = stateOf(tp)
      p.eof = true
      if (p.next < 0) setNext(p, nextOffset) // keep offset alive (K6)
      onEofReceived(tp)
    case Poll.NoMessage => onNoMessageReceived()
    case Poll.Failure(e) =>
      if (config.base.kafkaOpts.getOrElse("fail.fast", "true") == "true") {
        recordCrash(e); Some(Status.Crashed)
      } else onErrorReceived(e)
  }

  protected def onEofReceived(tp: TopicPartition): Option[Status] = None

  private def flushIfNeeded(): Option[Status] =
    if (needFlush()) doFlush() else None

  /** K9: user flush, then commit — commit skipped when flush crashed. */
  private def doFlush(): Option[Status] = {
    val flushStart = System.nanoTime()
    val res = onFlush()
    flushCount += 1
    if (res.contains(Status.Crashed)) res
    else commitWithRetry(flushStart).orElse(res)
  }

  /** K10: bounded synchronous commit retry. Offsets unchanged since the
    * last successful commit are already on the broker and are not sent
    * again (an idle or caught-up sink would otherwise commit on every
    * poll). */
  private def commitWithRetry(flushStart: Long): Option[Status] = {
    if (pending.isEmpty) return None
    pending.foreach(p => toCommit = toCommit.updated(p.tp, p.next))
    var lastError: Throwable = null
    var attempt = 0
    while (attempt <= config.base.sinkCommitRetryCount) {
      if (attempt > 0) commitRetries += 1
      try {
        consumer.commit(toCommit)
        pending.foreach(_.pending = false)
        pending.clear()
        commitCount += 1
        lastFlushToCommitMs = Some((System.nanoTime() - flushStart) / 1e6)
        return None
      } catch { case t: Throwable => lastError = t; attempt += 1 }
    }
    recordCrash(lastError)
    Some(Status.Crashed)
  }

  /** K15: final flush on graceful stop, never when crashed. */
  override protected def afterRunLoop(): Unit =
    if (status == Status.Stopped) { doFlush(); () }

  def metrics: ConnectorMetrics = ConnectorMetrics("sink", produced = 0,
    consumed = messageCount, flushes = flushCount, commits = commitCount,
    commitRetries = commitRetries, crashes = crashCount,
    lag = consumer.assignment.map(tp =>
      tp -> (broker.endOffset(tp) - consumer.committed(tp).getOrElse(0L))).toMap,
    lastFlushToCommitMs = lastFlushToCommitMs)

  private var closed = false
  override def close(): Unit = if (!closed) {
    closed = true
    consumer.close()
    logMetrics()
  }
}
