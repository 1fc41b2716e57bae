package graft.avro

import java.io.EOFException
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.{AbstractIterator, immutable, mutable}
import scala.collection.generic.DefaultSerializable
import scala.jdk.CollectionConverters._

import org.apache.avro.{AvroTypeException, InvalidNumberEncodingException, Schema,
  SystemLimitException, UnresolvedUnionException}
import org.apache.avro.Schema.Type._
import org.apache.avro.generic.{GenericData, GenericEnumSymbol, GenericFixed, GenericRecord}

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
  * any `Map` with the same entries; a decoded array is an
  * `immutable.ArraySeq`, equal to any `Seq` of the same items.
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

  /** Avro binary read in place from a byte array, as the Avro
    * specification's binary encoding lays it out: zig-zag varints,
    * little-endian floats, length-prefixed bytes and strings, counted
    * blocks. It rejects what Avro's `BinaryDecoder` rejects: an overlong
    * varint, a negative length, a read past the end of the array, and a
    * string, bytes or collection length over `SystemLimitException`'s
    * limits. */
  private final class Reader(buf: Array[Byte], private var pos: Int) {
    def remaining: Int = buf.length - pos

    /** Start of the next `n` bytes, which are then consumed. */
    private def take(n: Int): Int = {
      if (n > buf.length - pos) throw new EOFException()
      pos += n
      pos - n
    }

    def readByte(): Int = {
      if (pos >= buf.length) throw new EOFException()
      pos += 1
      buf(pos - 1) & 0xff
    }

    def readInt(): Int = {
      var n = 0
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift == 35) throw new InvalidNumberEncodingException("Invalid int encoding")
        b = readByte()
        n |= (b & 0x7f) << shift
        shift += 7
      }
      (n >>> 1) ^ -(n & 1)
    }

    def readLong(): Long = {
      var n = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift == 70) throw new InvalidNumberEncodingException("Invalid long encoding")
        b = readByte()
        n |= (b & 0x7fL) << shift
        shift += 7
      }
      (n >>> 1) ^ -(n & 1)
    }

    private def littleEndian(n: Int): Long = {
      val at = take(n)
      var v = 0L
      var i = n - 1
      while (i >= 0) { v = (v << 8) | (buf(at + i) & 0xff); i -= 1 }
      v
    }
    def readFloat(): Float = java.lang.Float.intBitsToFloat(littleEndian(4).toInt)
    def readDouble(): Double = java.lang.Double.longBitsToDouble(littleEndian(8))

    def readFixed(n: Int): Array[Byte] = {
      val at = take(n)
      java.util.Arrays.copyOfRange(buf, at, at + n)
    }
    def readBytes(): Array[Byte] =
      readFixed(SystemLimitException.checkMaxBytesLength(readLong()))
    def readString(): String = {
      val n = SystemLimitException.checkMaxStringLength(readLong())
      new String(buf, take(n), n, StandardCharsets.UTF_8)
    }

    /** Item count of a collection's next block, 0 at its end, after
      * `seen` items of it. A negative count is followed by the block's
      * size in bytes, which reading in order does not need. */
    def blockCount(seen: Long): Int = {
      var n = readLong()
      if (n < 0) { readLong(); n = -n }
      SystemLimitException.checkMaxCollectionLength(seen, n)
      n.toInt
    }
  }

  /** Avro binary written into a growing byte array: the writing half of
    * [[Reader]], byte for byte what Avro's `BinaryEncoder` writes. Not
    * synchronized; each encode makes its own. */
  private final class Writer {
    private var buf = new Array[Byte](128)
    private var count = 0

    private def reserve(n: Int): Unit =
      if (n > buf.length - count)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length << 1, count + n))

    def writeByte(b: Int): Unit = {
      reserve(1)
      buf(count) = b.toByte
      count += 1
    }

    /** An int's varint is that of the same value as a long. */
    def writeLong(n: Long): Unit = {
      reserve(10)
      var v = (n << 1) ^ (n >> 63)
      while ((v & ~0x7fL) != 0) {
        buf(count) = ((v & 0x7f) | 0x80).toByte
        count += 1
        v >>>= 7
      }
      buf(count) = v.toByte
      count += 1
    }

    private def littleEndian(v: Long, n: Int): Unit = {
      reserve(n)
      var i = 0
      while (i < n) { buf(count + i) = (v >>> (i << 3)).toByte; i += 1 }
      count += n
    }
    def writeFloat(f: Float): Unit =
      littleEndian(java.lang.Float.floatToRawIntBits(f).toLong, 4)
    def writeDouble(d: Double): Unit =
      littleEndian(java.lang.Double.doubleToRawLongBits(d), 8)

    def writeFixed(b: Array[Byte], len: Int): Unit = {
      reserve(len)
      System.arraycopy(b, 0, buf, count, len)
      count += len
    }
    def writeBytes(b: Array[Byte]): Unit = { writeLong(b.length); writeFixed(b, b.length) }

    /** An ASCII string is copied char by char after its length; any other
      * is encoded by `getBytes(UTF_8)`, as Avro encodes it (an unpaired
      * surrogate becomes '?'). */
    def writeString(s: String): Unit = {
      val n = s.length
      val start = count
      writeLong(n)
      reserve(n)
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c >= 0x80) {
          count = start
          writeBytes(s.getBytes(StandardCharsets.UTF_8))
          return
        }
        buf(count + i) = c.toByte
        i += 1
      }
      count += n
    }

    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, count)
  }

  /** One node of a compiled schema: writes a Scala value of its schema,
    * and reads one back. */
  private abstract class Node {
    def write(value: Any, out: Writer): Unit
    def read(in: Reader): Any
  }

  // Primitive writers convert as GenericDatumWriter does: numbers through
  // `Number`, so an Int fits a long slot; a null in a non-null slot
  // throws, and a null slot writes nothing whatever the value.
  private object NullNode extends Node {
    def write(value: Any, out: Writer): Unit = ()
    def read(in: Reader): Any = null
  }
  private object BooleanNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeByte(if (value.asInstanceOf[java.lang.Boolean].booleanValue) 1 else 0)
    // as BinaryDecoder: any byte but 1 reads false
    def read(in: Reader): Any = in.readByte() == 1
  }
  private object IntNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeLong(value.asInstanceOf[Number].intValue)
    def read(in: Reader): Any = in.readInt()
  }
  private object LongNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeLong(value.asInstanceOf[Number].longValue)
    def read(in: Reader): Any = in.readLong()
  }
  private object FloatNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeFloat(value.asInstanceOf[Number].floatValue)
    def read(in: Reader): Any = in.readFloat()
  }
  private object DoubleNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeDouble(value.asInstanceOf[Number].doubleValue)
    def read(in: Reader): Any = in.readDouble()
  }
  private object StringNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeString(value.asInstanceOf[CharSequence].toString)
    def read(in: Reader): Any = in.readString()
  }
  private object BytesNode extends Node {
    def write(value: Any, out: Writer): Unit =
      out.writeBytes(value.asInstanceOf[Array[Byte]])
    def read(in: Reader): Any = in.readBytes()
  }

  private final class EnumNode(schema: Schema) extends Node {
    private val symbols: Array[AnyRef] = schema.getEnumSymbols.asScala
      .map(s => new GenericData.EnumSymbol(schema, s): AnyRef).toArray
    def write(value: Any, out: Writer): Unit = value match {
      case e: GenericEnumSymbol[_] => out.writeLong(schema.getEnumOrdinal(e.toString))
      case _ => throw new AvroTypeException(
        s"value $value is not a symbol of enum ${schema.getFullName}")
    }
    def read(in: Reader): Any = symbols(in.readInt())
  }

  private final class FixedNode(schema: Schema) extends Node {
    private val size = schema.getFixedSize
    def write(value: Any, out: Writer): Unit =
      out.writeFixed(value.asInstanceOf[GenericFixed].bytes(), size)
    def read(in: Reader): Any = new GenericData.Fixed(schema, in.readFixed(size))
  }

  /** Writes one block of all items, then the end marker, as Avro's
    * encoder does. Reads any blocking into one `immutable.ArraySeq`. */
  private final class ArrayNode(items: Node) extends Node {
    def write(value: Any, out: Writer): Unit = {
      val xs = value.asInstanceOf[Seq[Any]]
      val n = xs.size
      if (n > 0) {
        out.writeLong(n)
        val it = xs.iterator
        while (it.hasNext) items.write(it.next(), out)
      }
      out.writeByte(0)
    }
    def read(in: Reader): Any = {
      var n = in.blockCount(0)
      if (n == 0) return immutable.ArraySeq.empty[AnyRef]
      // a count read from the frame sizes the array no larger than the
      // frame's remaining bytes; items of no bytes (null) grow it
      var xs = new Array[AnyRef](math.max(1, math.min(n, in.remaining)))
      var size = 0
      while (n > 0) {
        var i = 0
        while (i < n) {
          if (size == xs.length) xs = java.util.Arrays.copyOf(xs, size << 1)
          xs(size) = items.read(in).asInstanceOf[AnyRef]
          size += 1
          i += 1
        }
        n = in.blockCount(size)
      }
      immutable.ArraySeq.unsafeWrapArray(
        if (size == xs.length) xs else java.util.Arrays.copyOf(xs, size))
    }
  }

  private final class MapNode(values: Node) extends Node {
    def write(value: Any, out: Writer): Unit = {
      val m = value.asInstanceOf[Map[String, Any]]
      if (m.nonEmpty) {
        out.writeLong(m.size)
        m.foreachEntry { (k, v) => out.writeString(k); values.write(v, out) }
      }
      out.writeByte(0)
    }
    def read(in: Reader): Any = {
      val m = Map.newBuilder[String, Any]
      var seen = 0L
      var n = in.blockCount(0)
      while (n > 0) {
        var i = 0
        while (i < n) { m += in.readString() -> values.read(in); i += 1 }
        seen += n
        n = in.blockCount(seen)
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
    def write(value: Any, out: Writer): Unit = {
      val values = new Array[Any](names.length)
      value.asInstanceOf[Map[String, Any]].foreachEntry { (k, v) =>
        val i = index.get(k)
        if (i == null) throw new IllegalArgumentException(s"field '$k' not in schema")
        values(i) = v
      }
      var i = 0
      while (i < values.length) { fields(i).write(values(i), out); i += 1 }
    }
    def read(in: Reader): Any = {
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
    override def apply(key: String): Any = {
      val i = index.get(key)
      if (i == null) default(key) else slots(i)
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

    def write(value: Any, out: Writer): Unit = {
      val i = branchOf(value)
      if (i < 0) throw new UnresolvedUnionException(schema, value)
      out.writeLong(i)
      branches(i).write(value, out)
    }
    def read(in: Reader): Any = branches(in.readInt()).read(in)
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

  /** A schema compiled once for the hot path into one writer/reader node
    * per schema node. Encoding walks the Scala value straight into a
    * [[Writer]]'s byte array; decoding reads the frame's own byte array
    * in place with a [[Reader]], straight into Scala values. The nodes
    * are immutable once built and each call makes its own writer or
    * reader, so one instance may be shared across threads. */
  final case class Compiled(schema: Schema) {
    private val root = compile(schema, mutable.Map.empty)

    private def write(value: Any, out: Writer): Array[Byte] = {
      root.write(value, out)
      out.toByteArray
    }

    private def read(bytes: Array[Byte], offset: Int): Any =
      root.read(new Reader(bytes, offset))

    def encode(value: Any): Array[Byte] = write(value, new Writer)

    def decode(bytes: Array[Byte]): Any = read(bytes, 0)

    /** Confluent frame of `value`: header and payload written into one
      * buffer. */
    def encodeFramed(value: Any, schemaId: Int): Array[Byte] = {
      val out = new Writer
      out.writeByte(MagicByte)
      out.writeByte(schemaId >>> 24); out.writeByte(schemaId >>> 16)
      out.writeByte(schemaId >>> 8); out.writeByte(schemaId)
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
    (bytes(1) & 0xff) << 24 | (bytes(2) & 0xff) << 16 |
      (bytes(3) & 0xff) << 8 | (bytes(4) & 0xff)
  }

  /** Strip a Confluent frame → (schemaId, payload copy). */
  def unframe(bytes: Array[Byte]): (Int, Array[Byte]) =
    (schemaIdOf(bytes), java.util.Arrays.copyOfRange(bytes, 5, bytes.length))

  def encodeFramed(value: Any, schema: Schema, schemaId: Int): Array[Byte] =
    Compiled(schema).encodeFramed(value, schemaId)

  def decodeFramed(bytes: Array[Byte], schema: Schema): Any =
    Compiled(schema).decodeFramed(bytes)
}
