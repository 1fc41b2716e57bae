package graft

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.avro.{InvalidNumberEncodingException, Schema, SystemLimitException}
import org.apache.avro.Schema.Type._
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.scalacheck.{Arbitrary, Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.avro.{AvroCodec, AvroInference}
import graft.config.Parsers
import graft.sources.Json

/** Property-based coverage (SURVEY §5): schema inference is total over
  * arbitrary nested records and the codec round-trips them; parsers
  * round-trip; JSON render/parse inverts. Raw scalacheck (the offline
  * cache ships no scalatestplus bridge). */
class PropertySpec extends AnyFunSuite {

  /** Runs `prop` from a fresh random seed; a failure reports the seed
    * (replay: `withInitialSeed(Seed.fromBase64(seed).get)`)
    * and the failing arguments. */
  private def check(prop: Prop, n: Int = 50): Unit = {
    val seed = Seed.random()
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(seed), prop)
    val counterexample = res.status match {
      case SCTest.Failed(args, _) => args.map(_.arg).mkString(", ")
      case SCTest.PropException(args, e, _) =>
        args.map(_.arg).mkString(", ") + s" threw $e"
      case other => other.toString
    }
    assert(res.passed, s"seed ${seed.toBase64}; counterexample: " +
      s"$counterexample; status: ${res.status}")
  }

  private val fieldName: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map("f" + _.mkString))

  private val primitive: Gen[Any] = Gen.oneOf(
    Arbitrary.arbitrary[Long].map(x => x: Any),
    // TOTAL map, not retryUntil: a retry-bounded generator can "give
    // up" under a loaded JVM (scalacheck's retry budget) — the one
    // plausible source of the round-13 single-run flake
    Arbitrary.arbitrary[Double]
      .map(d => (if (d.isNaN || d.isInfinite) 0.0 else d): Any),
    Gen.alphaNumStr.map(x => x: Any),
    Arbitrary.arbitrary[Boolean].map(x => x: Any))

  private def record(depth: Int): Gen[Map[String, Any]] = {
    val value: Gen[Any] =
      if (depth <= 0) primitive
      else Gen.frequency(
        6 -> primitive,
        1 -> Gen.listOf(Gen.alphaNumStr).map(xs => xs: Any),
        2 -> Gen.lzy(record(depth - 1)).map(m => m: Any))
    for {
      n <- Gen.choose(1, 5)
      keys <- Gen.listOfN(n, fieldName).map(_.distinct)
      vals <- Gen.listOfN(keys.length, value)
    } yield keys.zip(vals).toMap
  }

  // ints widen to long and lists to Seq[String] by the declared inference
  // semantics — normalize the expectation, not the engine.
  private def norm(v: Any): Any = v match {
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]].map { case (k, x) => k -> norm(x) }
    case i: Int => i.toLong
    case xs: Seq[_] => xs.map(_.toString)
    case other => other
  }

  test("inference is total and the codec round-trips arbitrary records") {
    // forAllNoShrink (round 17): the one-per-few-rounds flake of this
    // property (r13 under a loaded chain run; once in an r17 full-
    // suite run, 5 immediate re-runs clean both times) reports a
    // USELESS counterexample under shrinking — scalacheck's Map
    // shrinker empties the KEY strings, every empty-name input also
    // "fails" (Avro rejects empty names, correctly), and the minimal
    // case reported is that degenerate artifact instead of the real
    // input. No-shrink preserves the actual failing record for the
    // next occurrence; the generator itself cannot produce empty
    // names (fieldName prefixes "f").
    check(Prop.forAllNoShrink(record(2)) { rec =>
      val schema = AvroCodec.parseable(AvroInference.toValueSchema(rec))
      AvroCodec.decode(AvroCodec.encode(norm(rec), schema),
        schema) == norm(rec)
    })
  }

  test("a compiled codec writes the bytes of a fresh Avro writer and of " +
      "the one-shot encode, frames them, and decodes every form alike") {
    check(Prop.forAllNoShrink(record(2), Gen.choose(0, Int.MaxValue)) {
      (rec, id) =>
        val schema = AvroCodec.parseable(AvroInference.toValueSchema(rec))
        val value = norm(rec)
        val reference = {
          val out = new java.io.ByteArrayOutputStream()
          val enc = org.apache.avro.io.EncoderFactory.get()
            .binaryEncoder(out, null)
          new org.apache.avro.generic.GenericDatumWriter[Any](schema)
            .write(AvroCodec.toDatum(value, schema), enc)
          enc.flush()
          out.toByteArray
        }
        val codec = AvroCodec.Compiled(schema)
        // twice: the writer and reader are reused across calls
        val bytes = Seq.fill(2)(codec.encode(value))
        val framed = codec.encodeFramed(value, id)
        val header = java.nio.ByteBuffer.allocate(5)
          .put(AvroCodec.MagicByte).putInt(id).array()
        bytes.forall(_.sameElements(reference)) &&
          AvroCodec.encode(value, schema).sameElements(reference) &&
          framed.sameElements(header ++ reference) &&
          AvroCodec.schemaIdOf(framed) == id &&
          Seq.fill(2)(codec.decode(reference)).forall(_ == value) &&
          codec.decodeFramed(framed) == value &&
          AvroCodec.decode(reference, schema) == value &&
          AvroCodec.decodeFramed(framed, schema) == value
    })
  }

  test("a decoded record behaves as a plain Map of the same entries, " +
      "iterates in schema field order and survives Java serialization") {
    check(Prop.forAllNoShrink(record(2), fieldName) { (rec, other) =>
      val schema = AvroCodec.parseable(AvroInference.toValueSchema(rec))
      val plain = norm(rec).asInstanceOf[Map[String, Any]]
      val decoded = AvroCodec.decode(AvroCodec.encode(plain, schema), schema)
        .asInstanceOf[Map[String, Any]]
      val key = plain.keys.head
      val absent = "absent_" + other
      val order = schema.getFields.asScala.map(_.name).toList
      val entries = List.newBuilder[String]
      decoded.foreachEntry((k, _) => entries += k)
      val copy = {
        val out = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(out)
        oos.writeObject(decoded); oos.close()
        new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(out.toByteArray))
          .readObject()
      }
      decoded == plain && plain == decoded && decoded.hashCode == plain.hashCode &&
        decoded.size == plain.size && decoded.knownSize == plain.size &&
        decoded.keys.toList == order && decoded.iterator.map(_._1).toList == order &&
        entries.result() == order &&
        decoded.get(key) == plain.get(key) && decoded.get(absent).isEmpty &&
        !decoded.contains(absent) && decoded.getOrElse(absent, 0L) == 0L &&
        decoded.updated(key, 1L) == plain.updated(key, 1L) &&
        decoded.updated(absent, 1L) == plain.updated(absent, 1L) &&
        decoded + (absent -> "x") == plain + (absent -> "x") &&
        decoded.removed(key) == plain.removed(key) &&
        decoded - key == plain - key && decoded - absent == plain &&
        copy == plain && copy.hashCode == plain.hashCode
    })
  }

  /** Bytes of Avro's Generic writer on `toDatum(value)`. */
  private def genericBytes(value: Any, schema: Schema): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[Any](schema)
      .write(AvroCodec.toDatum(value, schema), enc)
    enc.flush()
    out.toByteArray
  }

  /** `fromDatum` of Avro's Generic reader on `bytes`. */
  private def genericValue(bytes: Array[Byte], schema: Schema): Any =
    AvroCodec.fromDatum(new GenericDatumReader[Any](schema)
      .read(null, DecoderFactory.get().binaryDecoder(bytes, null)))

  /** Value equality that compares byte arrays by content. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
    case (x: Map[_, _], y: Map[_, _]) =>
      x.size == y.size && x.forall { case (k, v) =>
        y.asInstanceOf[Map[Any, Any]].get(k).exists(same(v, _)) }
    case (x: Seq[_], y: Seq[_]) =>
      x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** Schemas built directly, over every Avro type; `name` prefixes the
    * named types, so each name in one schema is unique. */
  private def schemaOf(depth: Int, name: String): Gen[Schema] = {
    val leaf = Gen.frequency(
      8 -> Gen.oneOf(INT, LONG, FLOAT, DOUBLE, BOOLEAN, STRING, BYTES, NULL)
        .map(Schema.create),
      1 -> Gen.const(Schema.createEnum(s"${name}_E", null, null,
        List("A", "B", "C").asJava)),
      1 -> Gen.choose(0, 4).map(Schema.createFixed(s"${name}_X", null, null, _)))
    if (depth <= 0) leaf
    else Gen.frequency(
      4 -> leaf,
      1 -> Gen.lzy(schemaOf(depth - 1, s"${name}_A")).map(Schema.createArray),
      1 -> Gen.lzy(schemaOf(depth - 1, s"${name}_M")).map(Schema.createMap),
      2 -> Gen.lzy(recordOf(depth - 1, s"${name}_R")),
      2 -> Gen.lzy(unionOf(depth - 1, s"${name}_U")))
  }

  private def recordOf(depth: Int, name: String): Gen[Schema] = for {
    n <- Gen.choose(1, 4)
    types <- Gen.sequence[List[Schema], Schema](
      (0 until n).map(i => schemaOf(depth, s"${name}_f$i")))
  } yield Schema.createRecord(name, null, null, false,
    types.zipWithIndex.map { case (t, i) =>
      new Schema.Field(s"f$i", t, null, null: Object) }.asJava)

  /** `[null, record]`, or some distinct unnamed branches and named ones
    * in any order. An int branch is never the one a Scala Int resolves
    * to, so values of it must be rejected. */
  private def unionOf(depth: Int, name: String): Gen[Schema] = Gen.frequency(
    1 -> recordOf(depth, s"${name}_R").map(r =>
      Schema.createUnion(Schema.create(NULL), r)),
    2 -> (for {
      prims <- Gen.someOf(NULL, BOOLEAN, INT, LONG, FLOAT, DOUBLE, STRING, BYTES)
      others <- Gen.someOf(
        Gen.lzy(schemaOf(depth, s"${name}_A")).map(Schema.createArray),
        Gen.lzy(schemaOf(depth, s"${name}_M")).map(Schema.createMap),
        recordOf(depth, s"${name}_R"),
        Gen.const(Schema.createEnum(s"${name}_E", null, null, List("A", "B").asJava)),
        Gen.const(Schema.createFixed(s"${name}_X", null, null, 2)))
      seed <- Arbitrary.arbitrary[Long]
    } yield {
      val branches = new scala.util.Random(seed)
        .shuffle(prims.map(Schema.create) ++ others)
      Schema.createUnion(
        (if (branches.isEmpty) Seq(Schema.create(NULL)) else branches).asJava)
    }))

  /** A Scala value of `schema`, in the codec's value model, with strings
    * from `strings` and up to `items` items per array or map. */
  private def valueOf(schema: Schema,
      strings: Gen[String] = Gen.oneOf(Gen.alphaNumStr, Arbitrary.arbitrary[String]),
      items: Int = 3): Gen[Any] = {
    def of(s: Schema): Gen[Any] = valueOf(s, strings, items)
    val small = Gen.choose(0, items)
    schema.getType match {
      case NULL => Gen.const(null)
      case BOOLEAN => Arbitrary.arbitrary[Boolean]
      case INT => Arbitrary.arbitrary[Int]
      case LONG => Gen.oneOf(Arbitrary.arbitrary[Long], Arbitrary.arbitrary[Int])
      case FLOAT => Arbitrary.arbitrary[Float].map(f => if (f.isNaN) 0f else f)
      case DOUBLE => Arbitrary.arbitrary[Double].map(d => if (d.isNaN) 0.0 else d)
      case STRING => strings
      case BYTES => Gen.listOf(Arbitrary.arbitrary[Byte]).map(_.toArray)
      case ENUM => Gen.oneOf(schema.getEnumSymbols.asScala.toSeq)
        .map(new GenericData.EnumSymbol(schema, _))
      case FIXED => Gen.listOfN(schema.getFixedSize, Arbitrary.arbitrary[Byte])
        .map(b => new GenericData.Fixed(schema, b.toArray))
      case ARRAY => small.flatMap(Gen.listOfN(_, of(schema.getElementType)))
      case MAP => small.flatMap(Gen.listOfN(_,
        Gen.zip(fieldName, of(schema.getValueType)))).map(_.toMap)
      case RECORD => Gen.sequence[List[Any], Any](
          schema.getFields.asScala.map(f => of(f.schema())))
        .map(vs => schema.getFields.asScala.map(_.name).zip(vs).toMap)
      case UNION => Gen.oneOf(schema.getTypes.asScala.toSeq).flatMap(of)
    }
  }

  test("the compiled codec matches Avro's Generic writer and reader on " +
      "directly built schemas over every Avro type") {
    val schemaAndValue = for {
      schema <- Gen.frequency(3 -> recordOf(2, "r"), 1 -> schemaOf(2, "t"))
      value <- valueOf(schema)
    } yield (schema, value)
    check(Prop.forAllNoShrink(schemaAndValue) { case (schema, value) =>
      val codec = AvroCodec.Compiled(schema)
      (Try(genericBytes(value, schema)).toOption,
        Try(codec.encode(value)).toOption) match {
        // a value the Generic path rejects is rejected here too
        case (None, compiled) => compiled.isEmpty
        case (Some(reference), Some(bytes)) =>
          bytes.sameElements(reference) &&
            same(codec.decode(bytes), genericValue(bytes, schema))
        case (Some(_), None) => false
      }
    }, n = 300)
  }

  /** Strings of ASCII, 2- and 3-byte UTF-8 chars, surrogate pairs and
    * unpaired surrogates (which UTF-8 encoding replaces by '?'); the
    * `Arbitrary[String]` generator never produces a surrogate. */
  private val unicode: Gen[String] = Gen.listOf(Gen.frequency(
    4 -> Gen.alphaNumChar.map(_.toString),
    1 -> Gen.choose('\u0080', '\u07ff').map(_.toString),
    1 -> Gen.choose('\u0800', '\ud7ff').map(_.toString),
    1 -> Gen.choose(0x10000, 0x10ffff).map(c => new String(Character.toChars(c))),
    1 -> Gen.choose('\ud800', '\udfff').map(_.toString))).map(_.mkString)

  private val schemaAndValue: Gen[(Schema, Any)] = for {
    schema <- Gen.frequency(3 -> recordOf(2, "r"), 1 -> schemaOf(2, "t"))
    value <- valueOf(schema, unicode, items = 8)
  } yield (schema, value)

  /** Bytes of Avro's Generic writer through a blocking encoder with
    * 64-byte blocks: arrays and maps longer than a block are written as
    * several blocks, each with a negative count and its size in bytes. */
  private def blockedBytes(value: Any, schema: Schema): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = new EncoderFactory().configureBlockSize(64)
      .blockingBinaryEncoder(out, null)
    new GenericDatumWriter[Any](schema).write(AvroCodec.toDatum(value, schema), enc)
    enc.flush()
    out.toByteArray
  }

  test("the compiled writer writes the bytes of Avro's Generic writer and " +
      "binary encoder, for non-ASCII strings and unpaired surrogates too") {
    check(Prop.forAllNoShrink(schemaAndValue, Gen.choose(0, Int.MaxValue)) {
      case ((schema, value), id) =>
        val codec = AvroCodec.Compiled(schema)
        Try(genericBytes(value, schema)).toOption match {
          case None => Try(codec.encode(value)).isFailure
          case Some(reference) =>
            val header = java.nio.ByteBuffer.allocate(5)
              .put(AvroCodec.MagicByte).putInt(id).array()
            codec.encode(value).sameElements(reference) &&
              codec.encodeFramed(value, id).sameElements(header ++ reference)
        }
    }, n = 300)
  }

  test("the compiled reader reads what Avro's Generic reader reads from a " +
      "blocking encoder's multi-block arrays and maps") {
    check(Prop.forAllNoShrink(schemaAndValue) { case (schema, value) =>
      val codec = AvroCodec.Compiled(schema)
      Try(blockedBytes(value, schema)).toOption.forall { bytes =>
        val header = Array[Byte](AvroCodec.MagicByte, 0, 0, 0, 9)
        same(codec.decode(bytes), genericValue(bytes, schema)) &&
          same(codec.decodeFramed(header ++ bytes), genericValue(bytes, schema))
      }
    }, n = 300)
  }

  test("golden: a blocked array and map with negative block counts decode " +
      "alike, and unpaired surrogates write as '?'") {
    val schema = AvroCodec.parseable("""{"type": "record", "name": "B",
      "fields": [{"name": "xs", "type": {"type": "array", "items": "string"}},
                 {"name": "m", "type": {"type": "map", "values": "long"}}]}""")
    val xs = (0 until 40).map(i => s"item-$i")
    val m = (0 until 40).map(i => s"key-$i" -> i.toLong).toMap
    val value = Map("xs" -> xs, "m" -> m)
    val blocked = blockedBytes(value, schema)
    val plain = AvroCodec.encode(value, schema)
    // the blocking encoder split both collections: its first count is
    // negative (zig-zag: odd) and the bytes differ from one block each
    assert((blocked(0) & 1) == 1 && !blocked.sameElements(plain))
    assert(AvroCodec.decode(blocked, schema) == value)
    assert(AvroCodec.decode(plain, schema) == value)

    val text = AvroCodec.parseable("\"string\"")
    for (s <- Seq("a\ud800b", "\udc00", "x\ud83d", "é€😀", "\ud83d\ude00\udfff")) {
      val bytes = AvroCodec.encode(s, text)
      assert(bytes.sameElements(genericBytes(s, text)), s)
      assert(AvroCodec.decode(bytes, text) ==
        new String(s.getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8))
    }
    assert(AvroCodec.decode(AvroCodec.encode("a\ud800b", text), text) == "a?b")
  }

  test("every strict prefix of an encoded value fails to decode with " +
      "EOFException") {
    val small = for {
      schema <- Gen.frequency(3 -> recordOf(2, "r"), 1 -> schemaOf(2, "t"))
      value <- valueOf(schema, unicode)
    } yield (schema, value)
    check(Prop.forAllNoShrink(small) { case (schema, value) =>
      val codec = AvroCodec.Compiled(schema)
      Try(codec.encode(value)).toOption.forall { bytes =>
        (0 until bytes.length).forall(n =>
          Try(codec.decode(bytes.take(n))).failed.toOption
            .exists(_.isInstanceOf[java.io.EOFException]))
      }
    }, n = 200)
  }

  test("malformed input throws as Avro's decoder throws: an overlong " +
      "varint, a negative length, a length past the end of the frame") {
    def rejected(json: String, bytes: Int*): Throwable = {
      val schema = AvroCodec.parseable(json)
      val payload = bytes.map(_.toByte).toArray
      val avro = intercept[Exception](genericValue(payload, schema))
      val ours = intercept[Exception](AvroCodec.decode(payload, schema))
      assert(ours.getClass == avro.getClass, s"$ours vs $avro")
      intercept[Exception](AvroCodec.Compiled(schema)
        .decodeFramed(Array[Byte](AvroCodec.MagicByte, 0, 0, 0, 1) ++ payload))
      ours
    }
    // a sixth int byte and an eleventh long byte
    assert(rejected("\"int\"", 0x80, 0x80, 0x80, 0x80, 0x80, 0x01)
      .isInstanceOf[InvalidNumberEncodingException])
    assert(rejected("\"long\"", Seq.fill(10)(0x80) :+ 0x01: _*)
      .isInstanceOf[InvalidNumberEncodingException])
    assert(rejected("\"string\"", 0x01, 0x41).getMessage.contains("negative"))
    assert(rejected("\"bytes\"", 0x03, 0x41).getMessage.contains("negative"))
    assert(rejected("\"string\"", 0x14, 0x41, 0x42).isInstanceOf[java.io.EOFException])
    assert(rejected("\"bytes\"", 0x14, 0x41).isInstanceOf[java.io.EOFException])
    assert(rejected("""{"type": "fixed", "name": "F", "size": 4}""", 0x41)
      .isInstanceOf[java.io.EOFException])
  }

  test("Avro's string, bytes and collection length limits apply") {
    val props = Seq(SystemLimitException.MAX_STRING_LENGTH_PROPERTY,
      SystemLimitException.MAX_BYTES_LENGTH_PROPERTY,
      SystemLimitException.MAX_COLLECTION_LENGTH_PROPERTY)
    // the limits are read from the properties when the class initializes
    val reset = classOf[SystemLimitException].getDeclaredMethod("resetLimits")
    reset.setAccessible(true)
    val schema = AvroCodec.parseable("""{"type": "record", "name": "L",
      "fields": [{"name": "s", "type": "string"}, {"name": "b", "type": "bytes"},
                 {"name": "a", "type": {"type": "array", "items": "long"}},
                 {"name": "m", "type": {"type": "map", "values": "long"}}]}""")
    val ok = Map("s" -> "abcd", "b" -> Array[Byte](1, 2, 3, 4),
      "a" -> Seq(1L, 2L, 3L, 4L), "m" -> (1 to 4).map(i => s"k$i" -> 0L).toMap)
    try {
      props.foreach(System.setProperty(_, "4"))
      reset.invoke(null)
      val codec = AvroCodec.Compiled(schema)
      assert(codec.decode(codec.encode(ok)).asInstanceOf[Map[String, Any]]("s") == "abcd")
      val over = Seq("s" -> "abcde", "b" -> Array[Byte](1, 2, 3, 4, 5),
        "a" -> Seq(1L, 2L, 3L, 4L, 5L), "m" -> (1 to 5).map(i => s"k$i" -> 0L).toMap)
      for ((field, v) <- over) {
        val bytes = codec.encode(ok.updated(field, v))
        intercept[SystemLimitException](genericValue(bytes, schema))
        intercept[SystemLimitException](codec.decode(bytes))
      }
      // the collection limit counts items over all blocks of one array:
      // two blocks of 3 (-3, size, ...) exceed 4
      val twoBlocks = Array[Byte](0x02, 0x41, 0x00) ++ // s = "A", b = empty
        Array[Byte](0x05, 0x06, 2, 4, 6, 0x05, 0x06, 8, 10, 12, 0x00) ++ Array[Byte](0x00)
      intercept[SystemLimitException](genericValue(twoBlocks, schema))
      intercept[SystemLimitException](codec.decode(twoBlocks))
    } finally {
      props.foreach(System.clearProperty)
      reset.invoke(null)
    }
  }

  test("golden: a recursive schema compiles and round-trips") {
    val list = AvroCodec.parseable("""{"type": "record", "name": "Cell",
      "fields": [{"name": "v", "type": "long"},
                 {"name": "next", "type": ["null", "Cell"]}]}""")
    val cells = Map("v" -> 1L, "next" -> Map("v" -> 2L, "next" -> null))
    val bytes = AvroCodec.encode(cells, list)
    // v=1, branch 1, v=2, branch 0 (zigzag varints)
    assert(bytes.sameElements(Array[Byte](2, 2, 4, 0)))
    assert(bytes.sameElements(genericBytes(cells, list)))
    assert(AvroCodec.decode(bytes, list) == cells)

    val tree = AvroCodec.parseable("""{"type": "record", "name": "Tree",
      "fields": [{"name": "label", "type": "string"},
                 {"name": "kids", "type": {"type": "array", "items": "Tree"}}]}""")
    val leaf = (l: String) => Map("label" -> l, "kids" -> Nil)
    val root = Map("label" -> "r", "kids" -> Seq(leaf("a"),
      Map("label" -> "b", "kids" -> Seq(leaf("c")))))
    val treeBytes = AvroCodec.encode(root, tree)
    assert(treeBytes.sameElements(genericBytes(root, tree)))
    assert(AvroCodec.decode(treeBytes, tree) == root)
    assert(genericValue(treeBytes, tree) == root)
  }

  test("the compiled codec rejects what the Generic path rejects: an " +
      "unknown key, a null in a non-null slot, a truncated payload") {
    val schema = AvroCodec.parseable("""{"type": "record", "name": "R",
      "fields": [{"name": "s", "type": "string"},
                 {"name": "n", "type": "long"},
                 {"name": "sub", "type": {"type": "record", "name": "S",
                   "fields": [{"name": "x", "type": "double"}]}}]}""")
    val codec = AvroCodec.Compiled(schema)
    val good = Map("s" -> "abc", "n" -> 300L, "sub" -> Map("x" -> 1.5))
    val extra = intercept[IllegalArgumentException](codec.encode(good + ("k" -> 1L)))
    assert(extra.getMessage == "field 'k' not in schema")
    intercept[IllegalArgumentException](
      codec.encode(good + ("sub" -> Map("x" -> 1.5, "k" -> 1L))))
    for (slot <- Seq("s", "n", "sub"))
      intercept[NullPointerException](codec.encode(good + (slot -> null)))
    intercept[NullPointerException](codec.encode(good - "n"))
    val optional = AvroCodec.parseable("""["long", "string"]""")
    intercept[org.apache.avro.UnresolvedUnionException](
      AvroCodec.encode(null, optional))
    // every strict prefix of a frame with a valid header fails to decode
    val frame = codec.encodeFramed(good, 7)
    for (len <- 5 until frame.length)
      intercept[Exception](codec.decodeFramed(frame.take(len)))
    assert(codec.decodeFramed(frame) == good)
  }

  test("optional-primitive schemas stay parseable for any record") {
    check(Prop.forAll(record(1)) { rec =>
      AvroInference.parse(
        AvroInference.toValueSchema(rec, optionalPrimitives = true)) != null
    }, n = 30)
  }

  test("duration parser: additive over concatenated unit terms") {
    val unit = Gen.oneOf("ms" -> 1L, "s" -> 1000L, "m" -> 60000L,
      "h" -> 3600000L, "d" -> 86400000L)
    check(Prop.forAll(Gen.listOfN(3, Gen.zip(Gen.choose(0L, 999L), unit))) {
      terms =>
        val s = terms.map { case (n, (u, _)) => s"$n$u" }.mkString(" ")
        val expected = terms.map { case (n, (_, ms)) => n * ms }.sum
        Parsers.duration(s).toMillis == expected
    })
  }

  test("csv line reader: quoted fields round-trip") {
    val field = Gen.choose(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(',', ' ', '.')))
        .map(_.mkString))
    check(Prop.forAll(Gen.nonEmptyListOf(field)) { fields =>
      Parsers.csvLine(fields.map(f => "\"" + f + "\"").mkString(",")) ==
        fields.map(_.trim).filter(_.nonEmpty)
    })
  }

  test("json render/parse inverts on flat maps") {
    val scalar: Gen[Any] = Gen.oneOf(
      Arbitrary.arbitrary[Long].map(x => x: Any),
      Gen.alphaNumStr.map(x => x: Any),
      Arbitrary.arbitrary[Boolean].map(x => x: Any))
    check(Prop.forAll(Gen.mapOf(Gen.zip(fieldName, scalar))) { m =>
      Parsers.flatJson(Json.render(m)) == m
    })
  }

  test("PolyFold.poly ≡ the Java codePoints fold on arbitrary unicode " +
      "strings (incl. astral planes — the round-11 codepoint contract)") {
    val P = 1000000007L
    val anyCodePoint: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e), // ASCII
      2 -> Gen.choose(0xa0, 0x2fff), // BMP multi-byte
      1 -> Gen.choose(0x4e00, 0x9fff), // CJK
      1 -> Gen.choose(0x1f300, 0x1faff)) // astral emoji (surrogates)
    val anyString: Gen[String] =
      Gen.listOf(anyCodePoint).map(cps =>
        new String(cps.toArray, 0, cps.length))
    check(Prop.forAll(anyString) { s =>
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 31L + cp) % P)
      graft.functions.PolyFold.poly(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == h
    })
  }

  test("PolyFold.poly2 ≡ the Java codePoints fold base 37 mod 10⁹+9 " +
      "(the q245 double-hash second component — astral planes incl.)") {
    val P2 = 1000000009L
    val anyCodePoint: Gen[Int] = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e),
      2 -> Gen.choose(0xa0, 0x2fff),
      1 -> Gen.choose(0x4e00, 0x9fff),
      1 -> Gen.choose(0x1f300, 0x1faff))
    val anyString: Gen[String] =
      Gen.listOf(anyCodePoint).map(cps =>
        new String(cps.toArray, 0, cps.length))
    check(Prop.forAll(anyString) { s =>
      var h = 0L
      s.codePoints().forEach(cp => h = (h * 37L + cp) % P2)
      graft.functions.PolyFold.poly2(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == h
    })
  }

  test("PolyFold.roll ≡ the split-then-fold word model on arbitrary " +
      "unicode strings (empty words flush as hash 0)") {
    val P = 1000000007L
    val word: Gen[String] = Gen.listOf(Gen.frequency(
      5 -> Gen.choose(0x21, 0x7e),
      1 -> Gen.choose(0x1f300, 0x1f9ff)))
      .map(cps => new String(cps.toArray, 0, cps.length))
    val text: Gen[String] = Gen.listOf(word).map(_.mkString(" "))
    check(Prop.forAll(text) { s =>
      def wordHash(w: String): Long = {
        var h = 0L
        w.codePoints().forEach(cp => h = (h * 31L + cp) % P)
        h
      }
      val want = s.split(" ", -1).foldLeft(0L)((acc, w) =>
        (acc * 131L + wordHash(w)) % P)
      graft.functions.PolyFold.roll(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) == want
    })
  }
}
