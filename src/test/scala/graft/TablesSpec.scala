package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** `Tables` resolves each parquet path once: later reads
  * declare the inferred schema and run no job, stay independent
  * relations, and re-infer when the files or parquet settings change. */
class TablesSpec extends SparkSpecBase {

  private val Tag = "graft.tables-spec"

  /** Spark jobs started by `body` on this thread. A marker job after it
    * drains the listener bus, which delivers events in order. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val marker = s"$tag-marker"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case `marker` => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      body
      sc.setLocalProperty(Tag, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
      jobs.get
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("after one load per table, building the 34 core entries runs no job") {
    Tables.names.foreach(Tables.load(spark, sf, _))
    Tables.events(spark, sf)
    val core = "q(0[1-9]|[1-3][0-9])_.*".r
    val entries = SparkEntry.queries.toSeq.filter { case (n, _) => core.matches(n) }
    assert(entries.size == 34)
    assert(jobsDuring(entries.foreach { case (_, f) => f(spark, sf) }) == 0)
  }

  test("two loads of a table are independent relations: disjoint attribute " +
      "ids, and their self-join counts as two plain parquet reads do") {
    val a = Tables.load(spark, sf, "lineitem")
    val b = Tables.load(spark, sf, "lineitem")
    assert(a.schema == b.schema)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val path = s"$sf/lineitem.parquet"
    val (p, q) = (spark.read.parquet(path), spark.read.parquet(path))
    val plain = p.join(q, p("l_orderkey") === q("l_orderkey")).count()
    assert(a.join(b, a("l_orderkey") === b("l_orderkey")).count() == plain)
    val bySquares = a.groupBy("l_orderkey").count()
      .select(sum(col("count") * col("count"))).head().getLong(0)
    assert(plain == bySquares && plain > 0)
  }

  test("a rewritten table is inferred again: the next load sees the new " +
      "schema and rows") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    val first = Tables.load(spark, dir, "t")
    assert(first.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(first.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))

    Seq(0.5, 1.5, 2.5).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val second = Tables.load(spark, dir, "t")
    assert(second.schema == StructType(Seq(StructField("x", DoubleType))))
    assert(second.as[Double].collect().sorted.toSeq == Seq(0.5, 1.5, 2.5))
    // the replaced entry serves the next load without a job
    assert(jobsDuring(assert(Tables.load(spark, dir, "t").schema == second.schema)) == 0)
  }

  test("a changed parquet setting is inferred again") {
    val session = spark
    import session.implicits._
    val dir = Files.createTempDirectory("graft-tables").toString
    // two files with different extra columns: without merging the
    // schema comes from one footer (2 columns), merged it has 3
    Seq((1L, "a")).toDF("id", "a").write.parquet(s"$dir/m.parquet")
    Seq((2L, "b")).toDF("id", "b").write.mode("append").parquet(s"$dir/m.parquet")
    val key = "spark.sql.parquet.mergeSchema"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "m").schema.size == 2)
      spark.conf.set(key, "true")
      assert(Tables.load(spark, dir, "m").schema.fieldNames.sorted.toSeq == Seq("a", "b", "id"))
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "m").schema.size == 2)
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("events returns the same schema and rows on a second call") {
    val a = Tables.events(spark, sf)
    val b = Tables.events(spark, sf)
    assert(a.schema == b.schema)
    assert(a.schema.fieldNames.contains("ts_ns"))
    assert(a.count() > 0)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
