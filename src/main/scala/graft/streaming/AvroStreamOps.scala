package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.avro.AvroCodec
import graft.sources.Json

/** Avro-over-stream decode — the Spark side of the reference's
  * Kafka+Avro sink consumer (SURVEY §3.2): a stream of Confluent-framed
  * Avro `binary` values (exactly what `readStream.format("kafka")`
  * yields in `value`) decoded into typed columns.
  *
  * Without the spark-avro module (absent offline), decode goes through
  * the compiled Avro codec: framed bytes → Scala value → JSON →
  * `from_json` with the locked schema. The UDF boundary is ONLY the
  * bytes→JSON hop; schema projection and downstream ops stay columnar.
  * With spark-avro on the cluster classpath, swap `decodedJson` for
  * `from_avro(unframe(value), schemaJson)` — call sites are unchanged.
  *
  * Poison-pill policy (K14): `failFast=true` propagates malformed frames
  * (crashing the query like the reference's SerializationError);
  * `failFast=false` yields null rows (PERMISSIVE).
  */
object AvroStreamOps {

  /** Ships the schema JSON with the UDF; each deserialized copy (one per
    * task) compiles it once, on first use. */
  private final class CodecHolder(schemaJson: String) extends Serializable {
    @transient lazy val codec: AvroCodec.Compiled =
      AvroCodec.Compiled(AvroCodec.parseable(schemaJson))
  }

  /** bytes → JSON string of the decoded record (frame-stripped). */
  def decodedJson(avroSchemaJson: String, failFast: Boolean = true): Column => Column = {
    val holder = new CodecHolder(avroSchemaJson)
    val decode = udf { (bytes: Array[Byte]) =>
      if (bytes == null) null
      else try Json.render(holder.codec.decodeFramed(bytes))
      catch {
        case e: Exception => if (failFast) throw e else null
      }
    }
    (c: Column) => decode(c)
  }

  /** Full decode: framed Avro binary column → struct column typed by
    * `sparkSchema` (the one-shot locked schema, S6 parity). */
  def decodeFramedColumn(value: Column, avroSchemaJson: String,
      sparkSchema: DataType, failFast: Boolean = true): Column =
    from_json(decodedJson(avroSchemaJson, failFast)(value),
      sparkSchema, Map.empty[String, String])

  /** Convenience: decode a (key binary, value binary) stream DataFrame —
    * the Kafka wire shape — into (key string, <value fields...>). */
  def decodeKafkaShaped(df: DataFrame, keySchemaJson: String,
      valueSchemaJson: String, valueSparkSchema: StructType,
      failFast: Boolean = true): DataFrame =
    df.select(
        decodedJson(keySchemaJson, failFast)(col("key")).as("key"),
        decodeFramedColumn(col("value"), valueSchemaJson,
          valueSparkSchema, failFast).as("v"))
      .select(col("key") +: valueSparkSchema.fieldNames
        .map(f => col(s"v.$f")): _*)
}
