package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Parquet table registry for the driver test data (TESTDATA.md) plus the
  * determinism helpers that make Spark-vs-DuckDB hash equality achievable
  * (SURVEY.md §2-B rules D1–D6).
  *
  * Each table path is resolved once: the first read infers the schema
  * (`spark.read.parquet`, a one-task footer job) and keeps it with a
  * stamp of what it was inferred from — every leaf file's path, length
  * and modification time, and the reading session's
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` settings. A
  * later read, in this session or another, declares that schema
  * (`spark.read.schema(s).parquet`, no job) and keeps it only if its own
  * stamp (the files it lists, its session's settings) still matches;
  * otherwise it infers again and replaces the entry. Only schemas and
  * stamps are held, never a `DataFrame`, and every read is a fresh
  * relation with fresh attribute ids, so self-joins and `df("col")`
  * resolve as before.
  *
  * Scale notes: single-file-per-table here, but nothing below assumes a
  * single partition — `spark.read.parquet` splits large files by
  * `spark.sql.files.maxPartitionBytes`, so the same code runs a 100 TB
  * multi-file table unchanged.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one table. Column pruning + predicate pushdown reach the scan
    * because we return the raw declarative scan and let Catalyst do the
    * rest (verified via `.explain` → `PushedFilters`/`ReadSchema`). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** What a schema was inferred from: (path, length, modification time)
    * of each leaf file, and the parquet settings that steer inference. */
  private final case class Stamp(files: Set[(String, Long, Long)], conf: Map[String, String])
  private final case class Resolved(schema: StructType, stamp: Stamp)

  /** Resolved paths. Keyed by path alone: the stamp holds everything a
    * session contributes to inference, so an entry serves any session
    * whose stamp matches it. */
  private val resolved = TrieMap.empty[String, Resolved]

  /** The stamp of a parquet read, from the file listing its relation
    * already holds (no second listing). None for a relation that is not
    * a listed file index: such a read is not cached, and a cached entry
    * never matches it. */
  private def stampOf(spark: SparkSession, df: DataFrame): Option[Stamp] =
    df.queryExecution.analyzed.collectFirst {
      case r: LogicalRelation => r.relation
    }.collect {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        Stamp(
          index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet,
          spark.conf.getAll.filter { case (k, _) =>
            k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
          })
    }

  private def read(spark: SparkSession, path: String): DataFrame = {
    val declared = resolved.get(path).flatMap { r =>
      val df = spark.read.schema(r.schema).parquet(path)
      if (stampOf(spark, df).contains(r.stamp)) Some(df) else None
    }
    declared.getOrElse {
      val df = spark.read.parquet(path)
      stampOf(spark, df).foreach(stamp => resolved(path) = Resolved(df.schema, stamp))
      df
    }
  }

  /** D2 discipline: doubles are money-like 2-decimal values; cast to
    * DECIMAL(18,2) before any SUM so the aggregate is exact and
    * order-independent. INTERNAL ONLY — D6 forbids DECIMAL in a final
    * projection (Spark and DuckDB render trailing zeros/precision
    * differently); final-cast the sum to DOUBLE (exact decimal → identical
    * double on both engines). */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** `events.ts` has shipped in two parquet physical shapes across fixture
    * generations, so the loader branches on the SCANNED schema:
    *   - INT64 TIMESTAMP(NANOS): Spark's vectorized reader rejects it
    *     unless `legacy.parquet.nanosAsLong` is set, under which it scans
    *     as LongType nanos-since-epoch;
    *   - plain `timestamp[us]` (current fixtures): scans as
    *     TIMESTAMP/TIMESTAMP_NTZ directly.
    * Either way the contract downstream is identical — expose BOTH:
    *   - `ts_ns: long` — exact nanosecond value, used for ORDER BY so row
    *     ordering matches engines that keep full ns precision, and
    *   - `ts: timestamp` — micros precision for date/time functions
    *     (session tz is UTC everywhere, so NTZ→TS cast is value-identity).
    * Integer DIV (not `/`) in the nanos branch — nanos ≈ 1.7e18 exceeds
    * double's 2^53 exact range, so float division would corrupt
    * timestamps. micros × 1000L stays well under Long.MaxValue (9.2e18). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Declared at session build in Verify/Bench/SparkSpecBase; this
    // guarded set is defensive for externally-built sessions only (it
    // never overwrites an explicit setting, so a long-lived session is
    // not surprised by a table loader mutating its config). Must be set
    // BEFORE the read: a NANOS file fails schema conversion without it.
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // INT64-nanos file scanned under nanosAsLong
        raw.withColumn("ts_ns", col("ts").cast("long"))
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType | TimestampNTZType => // micros-precision file
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case other =>
        throw new IllegalStateException(
          s"events.ts fixture drift: scanned type $other is neither " +
            "LongType (INT64-nanos under nanosAsLong) nor " +
            "TIMESTAMP/TIMESTAMP_NTZ (micros file). Regenerate goldens / " +
            "extend Tables.events for the new physical type.")
    }
  }
}
