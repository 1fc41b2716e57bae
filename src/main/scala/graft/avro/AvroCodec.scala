package graft.avro

import java.io.OutputStream
import java.nio.ByteBuffer

import scala.collection.{AbstractIterator, immutable, mutable}
import scala.collection.generic.DefaultSerializable
import scala.jdk.CollectionConverters._

import org.apache.avro.{AvroTypeException, Schema, UnresolvedUnionException}
import org.apache.avro.Schema.Type._
import org.apache.avro.generic.{GenericData, GenericEnumSymbol, GenericFixed, GenericRecord}
import org.apache.avro.io.{Decoder, DecoderFactory, Encoder, EncoderFactory}

/** Binary Avro encode/decode with optional Confluent wire framing.
  *
  * The reference serializes through Confluent's `AvroSerializer`, whose
  * wire format prefixes plain Avro binary with a magic byte (0) and a
  * 4-byte big-endian schema id (`pyconnectsource.py:186-196`; SURVEY.md
  * §7.4.1). Offline there is no registry, so the id is caller-supplied
  * and registry HTTP is out of scope — the framing itself round-trips
  * exactly.
  *
  * Values are plain Scala, as in AvroInference: `Map[String, Any]` for a
  * record or an Avro map, `Seq` for an array, `String`, `Int`/`Long`,
  * `Float`/`Double`, `Boolean`, `Array[Byte]` and `null`. Enum and fixed
  * values are Avro's own `GenericEnumSymbol` and `GenericFixed`, as the
  * Generic datum reader returns them. A decoded record is an immutable
  * `Map` that iterates in schema field order and equals (and hashes as)
  * any `Map` with the same entries.
  */
object AvroCodec {

  val MagicByte: Byte = 0

  def parseable(json: String): Schema = new Schema.Parser().parse(json)

  /** Scala value → Avro Generic datum; with [[fromDatum]] and Avro's
    * `GenericDatumWriter`/`GenericDatumReader`, the reference that the
    * compiled codec is tested against. */
  def toDatum(value: Any, schema: Schema): Any = (value, schema.getType) match {
    case (m: Map[_, _], UNION) =>
      val i = mapBranch(schema, m.asInstanceOf[Map[String, Any]])
      if (i < 0) throw new UnresolvedUnionException(schema, value)
      toDatum(m, schema.getTypes.get(i))
    case (xs: Seq[_], UNION) =>
      toDatum(xs, schema.getTypes.asScala.find(_.getType == ARRAY)
        .getOrElse(throw new UnresolvedUnionException(schema, value)))
    case (m: Map[_, _], MAP) =>
      val datum = new java.util.LinkedHashMap[String, Any]()
      m.asInstanceOf[Map[String, Any]].foreach { case (k, v) =>
        datum.put(k, toDatum(v, schema.getValueType))
      }
      datum
    case (m: Map[_, _], _) =>
      val rec = new GenericData.Record(schema)
      m.asInstanceOf[Map[String, Any]].foreach { case (k, v) =>
        val f = schema.getField(k)
        require(f != null, s"field '$k' not in schema")
        rec.put(k, toDatum(v, f.schema()))
      }
      rec
    case (xs: Seq[_], _) =>
      new GenericData.Array[Any](schema,
        xs.map(x => toDatum(x, schema.getElementType)).asJava)
    case (s: String, _) => new org.apache.avro.util.Utf8(s)
    case (i: Int, _) => i.toLong
    case (b: Array[Byte], _) => ByteBuffer.wrap(b)
    case (other, _) =>
      // primitives, enum symbols and fixeds are datums already; a union
      // picks their branch from the datum's class (GenericData.resolveUnion)
      other
  }

  /** Avro Generic datum → plain Scala value (inverse of toDatum). */
  def fromDatum(datum: Any): Any = datum match {
    case r: GenericRecord =>
      r.getSchema.getFields.asScala
        .map(f => f.name() -> fromDatum(r.get(f.pos()))).toMap
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> fromDatum(v) }.toMap
    case u: org.apache.avro.util.Utf8 => u.toString
    case a: java.util.Collection[_] => a.asScala.toSeq.map(fromDatum)
    case b: ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case other => other
  }

  /** The union branch a Scala `Map` is written as: the first record
    * branch with a field for each of its keys, else the map branch; -1
    * when neither exists. */
  private def mapBranch(union: Schema, m: Map[String, Any]): Int = {
    val branches = union.getTypes.asScala
    val record = branches.indexWhere(b =>
      b.getType == RECORD && m.keysIterator.forall(b.getField(_) != null))
    if (record >= 0) record else branches.indexWhere(_.getType == MAP)
  }

  /** One node of a compiled schema: writes a Scala value of its schema
    * to an encoder, and reads one back from a decoder. */
  private abstract class Node {
    def write(value: Any, out: Encoder): Unit
    def read(in: Decoder): Any
  }

  // Primitive writers convert as GenericDatumWriter does: numbers through
  // `Number`, so an Int fits a long slot; a null in a non-null slot
  // throws, and a null slot writes nothing whatever the value.
  private object NullNode extends Node {
    def write(value: Any, out: Encoder): Unit = out.writeNull()
    def read(in: Decoder): Any = { in.readNull(); null }
  }
  private object BooleanNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeBoolean(value.asInstanceOf[java.lang.Boolean].booleanValue)
    def read(in: Decoder): Any = in.readBoolean()
  }
  private object IntNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeInt(value.asInstanceOf[Number].intValue)
    def read(in: Decoder): Any = in.readInt()
  }
  private object LongNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeLong(value.asInstanceOf[Number].longValue)
    def read(in: Decoder): Any = in.readLong()
  }
  private object FloatNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeFloat(value.asInstanceOf[Number].floatValue)
    def read(in: Decoder): Any = in.readFloat()
  }
  private object DoubleNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeDouble(value.asInstanceOf[Number].doubleValue)
    def read(in: Decoder): Any = in.readDouble()
  }
  private object StringNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeString(value.asInstanceOf[CharSequence])
    def read(in: Decoder): Any = in.readString()
  }
  private object BytesNode extends Node {
    def write(value: Any, out: Encoder): Unit =
      out.writeBytes(value.asInstanceOf[Array[Byte]])
    // readBytes(null) allocates a buffer of exactly the payload's length
    def read(in: Decoder): Any = in.readBytes(null).array()
  }

  private final class EnumNode(schema: Schema) extends Node {
    private val symbols: Array[AnyRef] = schema.getEnumSymbols.asScala
      .map(s => new GenericData.EnumSymbol(schema, s): AnyRef).toArray
    def write(value: Any, out: Encoder): Unit = value match {
      case e: GenericEnumSymbol[_] => out.writeEnum(schema.getEnumOrdinal(e.toString))
      case _ => throw new AvroTypeException(
        s"value $value is not a symbol of enum ${schema.getFullName}")
    }
    def read(in: Decoder): Any = symbols(in.readEnum())
  }

  private final class FixedNode(schema: Schema) extends Node {
    private val size = schema.getFixedSize
    def write(value: Any, out: Encoder): Unit =
      out.writeFixed(value.asInstanceOf[GenericFixed].bytes(), 0, size)
    def read(in: Decoder): Any = {
      val bytes = new Array[Byte](size)
      in.readFixed(bytes, 0, size)
      new GenericData.Fixed(schema, bytes)
    }
  }

  private final class ArrayNode(items: Node) extends Node {
    def write(value: Any, out: Encoder): Unit = {
      val xs = value.asInstanceOf[Seq[Any]]
      out.writeArrayStart()
      out.setItemCount(xs.size)
      val it = xs.iterator
      while (it.hasNext) { out.startItem(); items.write(it.next(), out) }
      out.writeArrayEnd()
    }
    def read(in: Decoder): Any = {
      val xs = List.newBuilder[Any]
      var n = in.readArrayStart()
      while (n > 0) {
        var i = 0L
        while (i < n) { xs += items.read(in); i += 1 }
        n = in.arrayNext()
      }
      xs.result()
    }
  }

  private final class MapNode(values: Node) extends Node {
    def write(value: Any, out: Encoder): Unit = {
      val m = value.asInstanceOf[Map[String, Any]]
      out.writeMapStart()
      out.setItemCount(m.size)
      m.foreachEntry { (k, v) =>
        out.startItem(); out.writeString(k); values.write(v, out)
      }
      out.writeMapEnd()
    }
    def read(in: Decoder): Any = {
      val m = Map.newBuilder[String, Any]
      var n = in.readMapStart()
      while (n > 0) {
        var i = 0L
        while (i < n) { m += in.readString() -> values.read(in); i += 1 }
        n = in.mapNext()
      }
      m.result()
    }
  }

  /** A record's field nodes are set after the node exists, so a field
    * can refer back to its own record (recursive schemas). */
  private final class RecordNode(schema: Schema) extends Node {
    private val names = schema.getFields.asScala.map(_.name).toArray
    private val index = new java.util.HashMap[String, Integer]()
    names.indices.foreach(i => index.put(names(i), i))
    var fields: Array[Node] = _

    /** Keys are checked before any field is written, as toDatum does. */
    def write(value: Any, out: Encoder): Unit = {
      val values = new Array[Any](names.length)
      value.asInstanceOf[Map[String, Any]].foreachEntry { (k, v) =>
        val i = index.get(k)
        if (i == null) throw new IllegalArgumentException(s"field '$k' not in schema")
        values(i) = v
      }
      var i = 0
      while (i < values.length) { fields(i).write(values(i), out); i += 1 }
    }
    def read(in: Decoder): Any = {
      val values = new Array[Any](names.length)
      var i = 0
      while (i < values.length) { values(i) = fields(i).read(in); i += 1 }
      new RecordMap(names, index, values)
    }
  }

  /** A decoded record: its field values in one array, keyed through its
    * node's field names and name→index table, so decoding builds no hash
    * map. Iterates in schema field order; equality and hashing are those
    * of any `Map`. `updated` and `removed` return ordinary maps, and it
    * serializes as an ordinary map. */
  private final class RecordMap(names: Array[String],
      index: java.util.HashMap[String, Integer], slots: Array[Any])
      extends immutable.AbstractMap[String, Any] with DefaultSerializable {
    def get(key: String): Option[Any] = {
      val i = index.get(key)
      if (i == null) None else Some(slots(i))
    }
    def iterator: Iterator[(String, Any)] = new AbstractIterator[(String, Any)] {
      private var i = 0
      def hasNext: Boolean = i < names.length
      def next(): (String, Any) = {
        if (i >= names.length) Iterator.empty.next()
        i += 1
        (names(i - 1), slots(i - 1))
      }
    }
    override def foreachEntry[U](f: (String, Any) => U): Unit = {
      var i = 0
      while (i < names.length) { f(names(i), slots(i)); i += 1 }
    }
    override def size: Int = names.length
    override def knownSize: Int = names.length
    private def plain: Map[String, Any] = (Map.newBuilder[String, Any] ++= this).result()
    def updated[V1 >: Any](key: String, value: V1): Map[String, V1] =
      plain.updated(key, value)
    def removed(key: String): Map[String, Any] = plain.removed(key)
  }

  /** Picks a value's branch as GenericData.resolveUnion picks it for
    * `toDatum(value)`: by the datum's class, with Int widened to long. */
  private final class UnionNode(schema: Schema, branches: Array[Node]) extends Node {
    /** Branch index of each unnamed type, by `Schema.Type` ordinal; -1
      * where the union has no such branch. */
    private val byType = Schema.Type.values.map(t =>
      schema.getTypes.asScala.indexWhere(_.getType == t))
    private def at(t: Schema.Type): Int = byType(t.ordinal)

    private def named(name: String): Int =
      Option(schema.getIndexNamed(name)).fold(-1)(_.intValue)

    private def branchOf(value: Any): Int = value match {
      case null => at(NULL)
      case m: Map[_, _] => mapBranch(schema, m.asInstanceOf[Map[String, Any]])
      case _: Seq[_] => at(ARRAY)
      case _: CharSequence => at(STRING)
      case _: Int | _: Long => at(LONG)
      case _: Double => at(DOUBLE)
      case _: Boolean => at(BOOLEAN)
      case _: Array[Byte] => at(BYTES)
      case _: Float => at(FLOAT)
      case e: GenericEnumSymbol[_] => named(e.getSchema.getFullName)
      case f: GenericFixed => named(f.getSchema.getFullName)
      case _ => -1
    }

    def write(value: Any, out: Encoder): Unit = {
      val i = branchOf(value)
      if (i < 0) throw new UnresolvedUnionException(schema, value)
      out.writeIndex(i)
      branches(i).write(value, out)
    }
    def read(in: Decoder): Any = branches(in.readIndex()).read(in)
  }

  /** One node per schema node; a named record compiles once, so a
    * recursive reference reuses the node being built. */
  private def compile(schema: Schema, records: mutable.Map[String, RecordNode]): Node =
    schema.getType match {
      case RECORD => records.getOrElse(schema.getFullName, {
        val node = new RecordNode(schema)
        records(schema.getFullName) = node
        node.fields = schema.getFields.asScala.map(f => compile(f.schema(), records)).toArray
        node
      })
      case ENUM => new EnumNode(schema)
      case ARRAY => new ArrayNode(compile(schema.getElementType, records))
      case MAP => new MapNode(compile(schema.getValueType, records))
      case UNION =>
        new UnionNode(schema, schema.getTypes.asScala.map(compile(_, records)).toArray)
      case FIXED => new FixedNode(schema)
      case STRING => StringNode
      case BYTES => BytesNode
      case INT => IntNode
      case LONG => LongNode
      case FLOAT => FloatNode
      case DOUBLE => DoubleNode
      case BOOLEAN => BooleanNode
      case NULL => NullNode
    }

  /** `ByteArrayOutputStream` without its monitor, which the direct
    * encoder would otherwise take once per byte written. */
  private final class ByteSink extends OutputStream {
    private var buf = new Array[Byte](128)
    private var count = 0
    private def reserve(n: Int): Unit =
      if (count + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length << 1, count + n))
    override def write(b: Int): Unit = {
      reserve(1); buf(count) = b.toByte; count += 1
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      reserve(len); System.arraycopy(b, off, buf, count, len); count += len
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, count)
  }

  /** A schema compiled once for the hot path into one writer/reader node
    * per schema node. Encoding walks the Scala value straight into a
    * direct binary encoder over a byte buffer; decoding reads the binary
    * decoder straight into Scala values. The nodes are immutable once
    * built and each call makes its own buffer and encoder or decoder, so
    * one instance may be shared across threads. */
  final case class Compiled(schema: Schema) {
    private val root = compile(schema, mutable.Map.empty)

    private def write(value: Any, out: ByteSink): Array[Byte] = {
      root.write(value, EncoderFactory.get().directBinaryEncoder(out, null))
      out.toByteArray
    }

    private def read(bytes: Array[Byte], offset: Int): Any =
      root.read(DecoderFactory.get()
        .binaryDecoder(bytes, offset, bytes.length - offset, null))

    def encode(value: Any): Array[Byte] = write(value, new ByteSink)

    def decode(bytes: Array[Byte]): Any = read(bytes, 0)

    /** Confluent frame of `value`: header and payload written into one
      * buffer. */
    def encodeFramed(value: Any, schemaId: Int): Array[Byte] = {
      val out = new ByteSink
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
      decodeChecked(bytes)
    }

    /** [[decodeFramed]] for a frame whose header [[schemaIdOf]] has
      * already checked. */
    private[graft] def decodeChecked(frame: Array[Byte]): Any = read(frame, 5)
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
