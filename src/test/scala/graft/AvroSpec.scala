package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.avro.{AvroCodec, AvroInference}
import graft.sources.Json

/** Schema-inference goldens ported from the reference's
  * test_avroparser.py (SURVEY §5 / FIXTURES §1.2), plus binary codec and
  * Confluent-framing round-trips. */
class AvroSpec extends AnyFunSuite {

  // the reference's all-field golden record (test_avroparser.py:7-62)
  private val allField: Map[String, Any] = Map(
    "fint" -> 1,
    "fnull" -> null,
    "ffloat" -> 1.0,
    "flong" -> 1000000000000000000L,
    "fdouble" -> 2.0,
    "fstring" -> "hi there",
    "fobj" -> Map("fobjint" -> 2, "fobjstr" -> "hello there"))

  test("golden: all-field record with namespace (test_avroparser.py:17-37)") {
    val json = AvroInference.schemaFromRecord(
      "all_field", allField, namespace = Some("ba.nanas"))
    val schema = AvroInference.parse(json)
    assert(schema.getName == "all_field")
    assert(schema.getNamespace == "ba.nanas")
    def fieldType(n: String) = schema.getField(n).schema().getType.getName
    assert(fieldType("fint") == "long")      // int → long
    assert(fieldType("flong") == "long")
    assert(fieldType("ffloat") == "double")  // float → double
    assert(fieldType("fdouble") == "double")
    assert(fieldType("fnull") == "null")
    assert(fieldType("fstring") == "string")
    // nested record reuses the FIELD name as the record name
    // (avroparser.py:42-43 — the naming quirk)
    val fobj = schema.getField("fobj").schema()
    assert(fobj.getType.getName == "record" && fobj.getName == "fobj")
    assert(fobj.getField("fobjint").schema().getType.getName == "long")
  }

  test("golden: optional primitives wrap in [null, T] (test_avroparser.py:39-62)") {
    val json = AvroInference.schemaFromRecord(
      "all_field", allField, optionalPrimitives = true)
    val schema = AvroInference.parse(json)
    val fint = schema.getField("fint").schema()
    assert(fint.getType.getName == "union")
    assert(fint.getTypes.get(0).getType.getName == "null")
    assert(fint.getTypes.get(1).getType.getName == "long")
    // nested record fields are wrapped too, but the record itself is not
    val fobj = schema.getField("fobj").schema()
    assert(fobj.getType.getName == "record")
    assert(fobj.getField("fobjstr").schema().getType.getName == "union")
  }

  test("golden: nested records sharing a field name get distinct full " +
      "names and round-trip (SURVEY §7 item 6)") {
    val address = Map("street" -> "main st", "zip" -> 12345L)
    val value = Map(
      "billing" -> Map("address" -> address),
      "shipping" -> Map("address" -> address),
      "address" -> Map("address" -> address))
    val schema = AvroCodec.parseable(AvroInference.toValueSchema(value))
    def at(path: String*) =
      path.foldLeft(schema)((s, f) => s.getField(f).schema())
    // the simple name keeps the field-name quirk; the namespace is the
    // enclosing record's full name
    assert(at("billing", "address").getName == "address")
    assert(at("billing", "address").getFullName == "value.billing.address")
    assert(at("shipping", "address").getFullName ==
      "value.shipping.address")
    assert(at("address").getFullName == "value.address")
    assert(at("address", "address").getFullName == "value.address.address")
    assert(AvroCodec.decode(AvroCodec.encode(value, schema), schema) == value)
  }

  test("lists infer as array of string (avroparser.py:35-37 quirk)") {
    val json = AvroInference.schemaFromRecord(
      "r", Map("xs" -> Seq("a", "b")))
    val schema = AvroInference.parse(json)
    val xs = schema.getField("xs").schema()
    assert(xs.getType.getName == "array")
    assert(xs.getElementType.getType.getName == "string")
  }

  test("top-level key/value wrapping (avroparser.py:86-105)") {
    val k = AvroInference.parse(AvroInference.toKeySchema("some-key"))
    assert(k.getType.getName == "string")
    val v = AvroInference.parse(
      AvroInference.toValueSchema(Map("a" -> "x", "b" -> 1)))
    assert(v.getType.getName == "record" && v.getName == "value")
  }

  test("binary round-trip: record with nested fields") {
    val value = Map("a" -> "hello", "b" -> 42L,
      "nested" -> Map("x" -> 1.5, "y" -> "z"))
    val schema = AvroCodec.parseable(AvroInference.toValueSchema(value))
    val bytes = AvroCodec.encode(value, schema)
    assert(AvroCodec.decode(bytes, schema) == value)
  }

  test("a decoded record lists its fields in schema order, also past " +
      "four fields, so its JSON line does too") {
    val schema = AvroCodec.parseable("""{"type": "record", "name": "R",
      "fields": [{"name": "z", "type": "long"}, {"name": "y", "type": "string"},
                 {"name": "x", "type": "double"}, {"name": "w", "type": "boolean"},
                 {"name": "v", "type": "long"}, {"name": "u", "type": "null"}]}""")
    val value = Map("u" -> null, "v" -> 5L, "w" -> true, "x" -> 1.5,
      "y" -> "s", "z" -> 7L)
    val decoded = AvroCodec.decode(AvroCodec.encode(value, schema), schema)
    assert(decoded == value)
    assert(decoded.asInstanceOf[Map[String, Any]].keys.toList ==
      List("z", "y", "x", "w", "v", "u"))
    assert(Json.render(decoded) ==
      """{"z": 7, "y": "s", "x": 1.5, "w": true, "v": 5, "u": null}""")
  }

  test("confluent framing: magic byte + schema id round-trip (§7.4.1)") {
    val schema = AvroCodec.parseable(AvroInference.toValueSchema("payload"))
    val framed = AvroCodec.encodeFramed("payload", schema, schemaId = 1234)
    assert(framed(0) == 0.toByte)
    val (id, payload) = AvroCodec.unframe(framed)
    assert(id == 1234)
    assert(AvroCodec.decode(payload, schema) == "payload")
  }

  test("poison pill: unframed garbage throws (K14 failfast policy)") {
    intercept[IllegalArgumentException](AvroCodec.unframe(Array[Byte](9, 9)))
    intercept[IllegalArgumentException](AvroCodec.unframe(Array.empty[Byte]))
  }
}
