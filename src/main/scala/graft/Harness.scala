package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Memo, Memos}

/** The session factory and timing helpers shared by the sbt mains
  * (Bench, Verify, Probe, Plans), so they all run on one configuration.
  */
object Harness {

  /** Local core count: SPARK_GRAFT_CPUS, or every available processor
    * when unset. Also the shuffle partition count. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Write timestamps as TIMESTAMP_MICROS (not INT96, which pyarrow
      // reads as timestamp[ns]) so an Arrow-level compare of the Verify
      // dump sees the same type DuckDB produces (D6; round-1 q27 lesson).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet is TIMESTAMP(NANOS); declared here once so the
      // Tables.events loader never has to mutate session config
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run the FULL physical plan (sorts, joins, windows included) and
    * discard the rows — `count()` would let Catalyst prune most of the
    * work and overstate throughput. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Seconds `body` takes, after the between-entry hygiene: drop cached
    * relations/broadcasts and GC, so one entry's memory pressure does
    * not bleed into the next (observed up to 25× slowdowns). */
  def timed(spark: SparkSession)(body: => Unit): Double = {
    spark.catalog.clearCache()
    System.gc()
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The line-item memo labelled `label` (`memo:<name>`), after
    * clearing the registry and building every line item listed before
    * it — so timing or dumping it covers its own build only (the
    * dependency-order attribution Bench uses). */
  def memoAfterDeps(spark: SparkSession, dir: String, label: String)
      : Memo[_] = {
    val items = Memos.lineItems
    val i = items.indexWhere(_.label == label)
    if (i < 0) sys.error(s"unknown memo '$label'; known: " +
      items.map(_.label).mkString(", "))
    Memos.clearAll()
    items.take(i).foreach(_(spark, dir))
    items(i)
  }
}
