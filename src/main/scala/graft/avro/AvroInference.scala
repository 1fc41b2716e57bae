package graft.avro

/** Avro schema inference from live records — reference parity with
  * pyconnect's `avroparser.py` (SURVEY.md §2-A A1–A3).
  *
  * Replicated semantics, including the quirks the reference's golden
  * tests pin (`test/test_avroparser.py:17-62`):
  *  - int → long, float → double, str → string, bytes → bytes,
  *    null → null (`avroparser.py:9`);
  *  - dict → nested record whose record NAME is the field name
  *    (`avroparser.py:42-43` — the naming quirk, SURVEY §7.4.6), in
  *    the enclosing record's full name as NAMESPACE (a departure: the
  *    reference's bare names make Avro reject two nested records that
  *    share a field name, e.g. billing.address and shipping.address);
  *  - list → array with items hardcoded to "string"
  *    (`avroparser.py:35-37`, the reference's own TODO FIXME);
  *  - `optionalPrimitives=true` wraps every primitive in
  *    `["null", T]` (`avroparser.py:29-33`);
  *  - top-level wrappers named "key" / "value" with optional namespace
  *    (`avroparser.py:79-81,86-105`).
  *
  * Inference values are plain Scala: Int/Long, Float/Double, String,
  * Array[Byte], Boolean, null, Map[String, Any] (record), Seq[_] (array).
  */
object AvroInference {

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Avro type JSON for one field value (`avroparser.py:12-56`). */
  def fieldType(value: Any, name: String, optionalPrimitives: Boolean,
      namespace: Option[String]): String = value match {
    case m: Map[_, _] =>
      recordSchema(m.asInstanceOf[Map[String, Any]], name,
        optionalPrimitives, namespace)
    case _: Seq[_] =>
      // reference hardcodes items: "string" (avroparser.py:35-37)
      "{\"type\": \"array\", \"items\": \"string\"}"
    case other =>
      val t = primitive(other)
      if (optionalPrimitives && t != "null") s"""["null", "$t"]"""
      else s""""$t""""
  }

  private def primitive(value: Any): String = value match {
    case null => "null"
    case _: Int | _: Long | _: Short | _: Byte => "long"
    case _: Float | _: Double => "double"
    case _: String => "string"
    case _: Boolean => "boolean"
    case _: Array[Byte] => "bytes"
    case other =>
      throw new IllegalArgumentException(
        s"unsupported type for avro inference: ${other.getClass}")
  }

  /** Record schema; the nested record's name IS the field name
    * (`avroparser.py:42-43`) and its namespace is this record's full
    * name, so every record's full name is its field path and no two
    * can collide. The top-level namespace is the caller's
    * (`avroparser.py:79-81`). */
  def recordSchema(record: Map[String, Any], name: String,
      optionalPrimitives: Boolean, namespace: Option[String]): String = {
    val ns = namespace.map(n => s""", "namespace": ${quote(n)}""").getOrElse("")
    val fullName = namespace.filter(_.nonEmpty).fold(name)(n => s"$n.$name")
    val fields = record.map { case (k, v) =>
      s"""{"name": ${quote(k)}, "type": ${fieldType(v, k, optionalPrimitives, Some(fullName))}}"""
    }.mkString(", ")
    s"""{"type": "record", "name": ${quote(name)}$ns, "fields": [$fields]}"""
  }

  /** `create_schema_from_record` (`avroparser.py:59-83`). */
  def schemaFromRecord(name: String, record: Any,
      namespace: Option[String] = None,
      optionalPrimitives: Boolean = false): String = record match {
    case m: Map[_, _] =>
      recordSchema(m.asInstanceOf[Map[String, Any]], name,
        optionalPrimitives, namespace)
    case other => fieldType(other, name, optionalPrimitives, None)
  }

  /** Top-level key/value wrapping (`avroparser.py:86-105`): records get
    * renamed; primitives are wrapped as a named one-type schema. */
  def toKeySchema(record: Any, namespace: Option[String] = None,
      optionalPrimitives: Boolean = false): String =
    toNamedSchema("key", record, namespace, optionalPrimitives)

  def toValueSchema(record: Any, namespace: Option[String] = None,
      optionalPrimitives: Boolean = false): String =
    toNamedSchema("value", record, namespace, optionalPrimitives)

  private def toNamedSchema(name: String, record: Any,
      namespace: Option[String], optionalPrimitives: Boolean): String =
    schemaFromRecord(name, record, namespace, optionalPrimitives)

  /** Validate a produced schema with the real Avro parser (avro-1.12 is
    * on the runtime classpath via Spark). */
  def parse(json: String): org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(json)
}
