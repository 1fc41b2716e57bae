package graft.avro

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/** Binary Avro encode/decode with optional Confluent wire framing.
  *
  * The reference serializes through Confluent's `AvroSerializer`, whose
  * wire format prefixes plain Avro binary with a magic byte (0) and a
  * 4-byte big-endian schema id (`pyconnectsource.py:186-196`; SURVEY.md
  * §7.4.1). Offline there is no registry, so the id is caller-supplied
  * and registry HTTP is out of scope — the framing itself round-trips
  * exactly.
  */
object AvroCodec {

  val MagicByte: Byte = 0

  def parseable(json: String): Schema = new Schema.Parser().parse(json)

  /** Scala value (Map/Seq/primitive, as in AvroInference) → Avro datum. */
  def toDatum(value: Any, schema: Schema): Any = value match {
    case m: Map[_, _] =>
      val rec = new GenericData.Record(schema)
      m.asInstanceOf[Map[String, Any]].foreach { case (k, v) =>
        val f = schema.getField(k)
        require(f != null, s"field '$k' not in schema")
        rec.put(k, toDatum(v, f.schema()))
      }
      rec
    case xs: Seq[_] =>
      new GenericData.Array[Any](schema,
        xs.map(x => toDatum(x, schema.getElementType)).asJava)
    case s: String => new org.apache.avro.util.Utf8(s)
    case i: Int => i.toLong
    case b: Array[Byte] => ByteBuffer.wrap(b)
    case other =>
      // unions ([null, T]) accept the raw value directly
      other
  }

  /** Avro datum → plain Scala value (inverse of toDatum). */
  def fromDatum(datum: Any): Any = datum match {
    case r: GenericRecord =>
      r.getSchema.getFields.asScala
        .map(f => f.name() -> fromDatum(r.get(f.pos()))).toMap
    case u: org.apache.avro.util.Utf8 => u.toString
    case a: java.util.Collection[_] => a.asScala.toSeq.map(fromDatum)
    case b: ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case other => other
  }

  /** A schema compiled once for the hot path: the parsed `Schema` with
    * one datum writer and one datum reader. Encoding and decoding reuse
    * them, so Avro's per-thread resolver cache keeps one entry per
    * compiled schema instead of one per parse. It keeps no per-call
    * buffers, so one instance may be shared across threads. */
  final case class Compiled(schema: Schema) {
    private val writer = new GenericDatumWriter[Any](schema)
    private val reader = new GenericDatumReader[Any](schema)

    private def write(value: Any, out: ByteArrayOutputStream): Array[Byte] = {
      val encoder = EncoderFactory.get().binaryEncoder(out, null)
      writer.write(toDatum(value, schema), encoder)
      encoder.flush()
      out.toByteArray
    }

    private def read(bytes: Array[Byte], offset: Int): Any =
      fromDatum(reader.read(null, DecoderFactory.get()
        .binaryDecoder(bytes, offset, bytes.length - offset, null)))

    def encode(value: Any): Array[Byte] = write(value, new ByteArrayOutputStream())

    def decode(bytes: Array[Byte]): Any = read(bytes, 0)

    /** Confluent frame of `value`: header and payload written into one
      * buffer. */
    def encodeFramed(value: Any, schemaId: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(MagicByte)
      out.write(schemaId >>> 24); out.write(schemaId >>> 16)
      out.write(schemaId >>> 8); out.write(schemaId)
      write(value, out)
    }

    /** Decode a Confluent frame in place, after checking its header. The
      * frame's id is not compared with this schema: callers pick the
      * codec by [[schemaIdOf]]. */
    def decodeFramed(bytes: Array[Byte]): Any = {
      checkFrame(bytes)
      read(bytes, 5)
    }
  }

  def encode(value: Any, schema: Schema): Array[Byte] =
    Compiled(schema).encode(value)

  def decode(bytes: Array[Byte], schema: Schema): Any =
    Compiled(schema).decode(bytes)

  /** Poison-pill policy (SURVEY §2-A K14): malformed frames throw;
    * callers choose FAILFAST (propagate) or PERMISSIVE (null row) at the
    * connector level. */
  private def checkFrame(bytes: Array[Byte]): Unit =
    if (bytes.length < 5 || bytes(0) != MagicByte)
      throw new IllegalArgumentException(
        s"not a Confluent-framed Avro message (len=${bytes.length})")

  /** Schema id of a Confluent frame (0x00 + 4-byte BE id + payload). */
  def schemaIdOf(bytes: Array[Byte]): Int = {
    checkFrame(bytes)
    ByteBuffer.wrap(bytes, 1, 4).getInt
  }

  /** Strip a Confluent frame → (schemaId, payload copy). */
  def unframe(bytes: Array[Byte]): (Int, Array[Byte]) =
    (schemaIdOf(bytes), java.util.Arrays.copyOfRange(bytes, 5, bytes.length))

  def encodeFramed(value: Any, schema: Schema, schemaId: Int): Array[Byte] =
    Compiled(schema).encodeFramed(value, schemaId)

  def decodeFramed(bytes: Array[Byte], schema: Schema): Any =
    Compiled(schema).decodeFramed(bytes)
}
