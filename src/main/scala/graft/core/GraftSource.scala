package graft.core

import scala.util.control.NonFatal

import org.apache.avro.SchemaNormalization

import graft.avro.{AvroCodec, AvroInference}
import graft.config.SourceConfig

/** Source connector — reference parity with `pyconnectsource.py`
  * (SURVEY.md §2-A S1–S13).
  *
  * Lifecycle: on start, fetch the committed offset from the offset topic
  * and `seek` to it (S8/S10); loop `read → produce` (S1/S5); first record
  * triggers one-shot Avro schema inference + serializer install (S6); EOF
  * → `onEof` (default: 100 ms backoff retry, S11); close always performs
  * a final offset commit (S12); the offset value itself is an arbitrary
  * schema-inferred Avro value produced to a dedicated topic (S7).
  *
  * A commit records the index after the last record handed to the
  * producer, not the read position: a record whose produce threw is read
  * again after a restart (at-least-once), and the crash names its index.
  *
  * Each of the key, value and offset schemas is compiled, fingerprinted
  * and registered once, when it is inferred; records only encode.
  */
abstract class GraftSource(val config: SourceConfig, broker: InMemoryBroker)
    extends BaseConnector {

  protected val producer: TransportProducer = broker.producer()
  private val offsetConsumer: TransportConsumer =
    broker.consumer(s"${config.offsetTopic}-reader")

  /** A compiled schema and the id its frames carry. Offline stand-in for
    * registry ids: a stable schema fingerprint, registered with the
    * broker's in-memory registry so sinks can resolve it from the frame. */
  private final class FrameWriter(schemaJson: String) {
    val codec: AvroCodec.Compiled = AvroCodec.Compiled(AvroCodec.parseable(schemaJson))
    val id: Int =
      SchemaNormalization.parsingFingerprint64(codec.schema).toInt & 0x7fffffff
    broker.registerSchema(id, codec.schema.toString)
    def encode(value: Any): Array[Byte] = codec.encodeFramed(value, id)
  }

  private var keyWriter: Option[FrameWriter] = None
  private var valueWriter: Option[FrameWriter] = None
  private var offsetWriter: Option[FrameWriter] = None
  var produceCount: Long = 0L
  private var flushCount = 0L
  private var commitCount = 0L
  private var lastFlushToCommitMs: Option[Double] = None

  // ---- abstract API (S2/S3/S4) ----------------------------------------
  /** Next record, or None at EOF (the reference's StopIteration). */
  def read(): Option[(Any, Any)]
  def seek(index: Any): Unit
  def getIndex: Any

  /** EOF default: brief backoff then retry — i.e. tail the source
    * (`pyconnectsource.py:198-206`). Override to stop at EOF. */
  protected def onEof(): Option[Status] = { Thread.sleep(100); None }

  // ---- lifecycle -------------------------------------------------------
  override protected def beforeRunLoop(): Unit = {
    lastCommitNanos = System.nanoTime()
    getCommittedOffset.foreach(seek)
    producedIndex = Some(getIndex)
  }

  /** Periodic offset commit per `offset_commit_interval` (30 min default)
    * — the reference commits during the run loop, not only on close
    * (`config.py:387-392`; commit sites in `pyconnectsource.py`). */
  private var lastCommitNanos: Long = System.nanoTime()

  /** The index a commit records: the position after the seek, then
    * after each record the producer took. */
  private var producedIndex: Option[Any] = None

  override protected def runOnce(): Option[Status] = {
    val intervalNanos = config.base.offsetCommitInterval.toNanos
    if (System.nanoTime() - lastCommitNanos >= intervalNanos) {
      commitOffset()
      lastCommitNanos = System.nanoTime()
    }
    read() match {
      case Some((key, value)) =>
        try produce(key, value)
        catch { case NonFatal(e) =>
          throw new RuntimeException(
            s"record at source index ${producedIndex.orNull} not produced: ${e.getMessage}", e)
        }
        producedIndex = Some(getIndex)
        None
      case None => onEof()
    }
  }

  /** Lazy one-shot schema inference (`pyconnectsource.py:177-196`). */
  private def createSchemasIfNecessary(key: Any, value: Any): Unit = {
    if (keyWriter.isEmpty)
      keyWriter = Some(new FrameWriter(AvroInference.toKeySchema(key)))
    if (valueWriter.isEmpty)
      valueWriter = Some(new FrameWriter(AvroInference.toValueSchema(value)))
  }

  /** The offset value's writer, inferred from `sample` on first use. */
  private def offsetWriterFor(sample: Any): FrameWriter = {
    if (offsetWriter.isEmpty)
      offsetWriter = Some(new FrameWriter(AvroInference.toValueSchema(sample)))
    offsetWriter.get
  }

  protected def produce(key: Any, value: Any): Unit = {
    createSchemasIfNecessary(key, value)
    producer.produce(config.topic,
      keyWriter.get.encode(key), valueWriter.get.encode(value))
    produceCount += 1
  }

  /** Commit of the source's own position to the offset topic
    * (`pyconnectsource.py:216-238`): infer the offset value's schema,
    * produce, flush. Before the run loop starts no record was read, so
    * the position is `getIndex`. */
  protected def commitOffset(): Unit = {
    val idx = producedIndex.getOrElse(getIndex)
    val start = System.nanoTime()
    if (idx != null)
      producer.produce(config.offsetTopic, null, offsetWriterFor(idx).encode(idx))
    producer.flush()
    flushCount += 1
    if (idx != null) {
      commitCount += 1
      lastFlushToCommitMs = Some((System.nanoTime() - start) / 1e6)
    }
  }

  /** Last message of the offset topic (`pyconnectsource.py:96-124`). The
    * schema travels out of band in the reference (registry); here the
    * subclass's index type re-infers it from a sample on first use. */
  protected def getCommittedOffset: Option[Any] =
    offsetConsumer.lastMessage(config.offsetTopic).map { msg =>
      offsetWriterFor(getIndex).codec.decodeFramed(msg.value)
    }

  def metrics: ConnectorMetrics = ConnectorMetrics("source",
    produced = produceCount, consumed = 0, flushes = flushCount,
    commits = commitCount, commitRetries = 0, crashes = crashCount,
    lag = Map.empty, lastFlushToCommitMs = lastFlushToCommitMs)

  private var closed = false
  override def close(): Unit = if (!closed) {
    closed = true
    commitOffset() // final commit (`pyconnectsource.py:208-214`)
    offsetConsumer.close()
    logMetrics()
  }
}
