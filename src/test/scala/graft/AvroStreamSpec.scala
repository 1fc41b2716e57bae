package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.avro.{AvroCodec, AvroInference}
import graft.streaming.AvroStreamOps

/** Kafka-shaped Avro stream decode: Confluent-framed binary → typed
  * columns through a streaming query, with both poison-pill policies. */
class AvroStreamSpec extends SparkSpecBase {

  import spark.implicits._

  private val sampleValue = Map("city" -> "berlin", "n" -> 42L)
  private val valueSchemaJson = AvroInference.toValueSchema(sampleValue)
  private val keySchemaJson = AvroInference.toKeySchema("k")
  private val valueSparkSchema = StructType(Seq(
    StructField("city", StringType), StructField("n", LongType)))

  private def framed(key: String, value: Map[String, Any]): (Array[Byte], Array[Byte]) = (
    AvroCodec.encodeFramed(key, AvroCodec.parseable(keySchemaJson), 1),
    AvroCodec.encodeFramed(value, AvroCodec.parseable(valueSchemaJson), 2))

  test("streaming decode: framed binary → typed columns (§3.2 trace)") {
    val input = MemoryStream[(Array[Byte], Array[Byte])](spark)
    input.addData(
      framed("k1", Map("city" -> "berlin", "n" -> 42L)),
      framed("k2", Map("city" -> "tokyo", "n" -> 7L)))
    val decoded = AvroStreamOps.decodeKafkaShaped(
      input.toDF().toDF("key", "value"),
      keySchemaJson, valueSchemaJson, valueSparkSchema)
    val q = decoded.writeStream.format("memory").queryName("avrostream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("avrostream").orderBy("key").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.sameElements(Array(
      ("\"k1\"", "berlin", 42L), ("\"k2\"", "tokyo", 7L))))
  }

  test("poison pill FAILFAST: malformed frame crashes the query (K14)") {
    val input = MemoryStream[(Array[Byte], Array[Byte])](spark)
    input.addData(framed("ok", sampleValue),
      (Array[Byte](9), Array[Byte](9, 9)))
    val decoded = AvroStreamOps.decodeKafkaShaped(
      input.toDF().toDF("key", "value"),
      keySchemaJson, valueSchemaJson, valueSparkSchema, failFast = true)
    val q = decoded.writeStream.format("memory").queryName("avrofail")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("Confluent") ||
      Option(e.cause).exists(_.getMessage != null))
  }

  test("poison pill PERMISSIVE: malformed frame yields null row (K14)") {
    val input = MemoryStream[(Array[Byte], Array[Byte])](spark)
    input.addData(framed("ok", sampleValue),
      (Array[Byte](9), Array[Byte](9, 9)))
    val decoded = AvroStreamOps.decodeKafkaShaped(
      input.toDF().toDF("key", "value"),
      keySchemaJson, valueSchemaJson, valueSparkSchema, failFast = false)
    val q = decoded.writeStream.format("memory").queryName("avroperm")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table("avroperm").collect()
    assert(rows.length == 2)
    assert(rows.count(_.isNullAt(1)) == 1) // poison row → nulls
    assert(rows.exists(r => !r.isNullAt(1) && r.getString(1) == "berlin"))
  }

  test("a bytes field decodes into a BinaryType column equal to the " +
      "encoded bytes") {
    val bytesSchemaJson = AvroInference.toValueSchema(
      Map("b" -> Array[Byte](0, 1, 2, -1)))
    val raw = Array[Byte](0, 1, 2, -1, 127, -128)
    val value = AvroCodec.encodeFramed(Map("b" -> raw),
      AvroCodec.parseable(bytesSchemaJson), 3)
    val key = AvroCodec.encodeFramed("k",
      AvroCodec.parseable(keySchemaJson), 1)
    val decoded = AvroStreamOps.decodeKafkaShaped(
      Seq((key, value)).toDF("key", "value"), keySchemaJson,
      bytesSchemaJson, StructType(Seq(StructField("b", BinaryType))))
    val rows = decoded.collect()
    assert(rows.length == 1)
    assert(rows(0).getAs[Array[Byte]]("b").sameElements(raw))
  }
}
