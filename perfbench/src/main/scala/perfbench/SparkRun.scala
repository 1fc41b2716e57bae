package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.operators.Memos

/** The Spark workload: one driver thread runs the 34 core `qNN_*`
  * entries one at a time on `local[4]` over the fixture tables in
  * `perfbench/data/sf0.01`, in passes whose order the seed shuffles. Each
  * execution collects the entry's rows; their count and content hash are
  * checked, untimed, after every execution. A traced run also builds the
  * iterative memos once (`Memos.clearAll()`, then `loopMemos` in declared
  * order) for the per-builder build times.
  */
object SparkRun {
  val workloads: Set[String] = Set("spark-relational")
  val DataDir = "perfbench/data/sf0.01"
  private val EntryTag = "perfbench.entry"

  final case class Op(name: String, run: (SparkSession, String) => Option[DataFrame])

  def relational: Seq[Op] = {
    val core = "q(0[1-9]|[1-3][0-9])_.*".r
    SparkEntry.queries.toSeq.filter { case (n, _) => core.matches(n) }.sortBy(_._1)
      .map { case (n, f) => Op(n, (s, d) => Some(f(s, d))) }
  }

  /** The job-heavy iterative builders (louvain, bpe, unigram, qsketch)
    * and the co-supply edges louvain starts from. */
  val loopMemos: Set[String] = Set("memo:co_edges25", "memo:bpe_state",
    "memo:qsketch_state", "memo:unigram_state", "memo:louvain2_state")

  def memos: Seq[Op] = Memos.builders.collect {
    case (n, f) if loopMemos(n) => Op(n, (s, d) => { f(s, d); None })
  }

  def session(root: Path): SparkSession = {
    val build = root.resolve(".bench_build")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", build.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm JVM, codegen and shuffle machinery on no benchmark table
    spark.range(1000).repartition(4).groupBy((col("id") % 10).as("k")).count()
      .write.format("noop").mode("overwrite").save()
    spark
  }

  /** Session set-up three times: the first from process start, then
    * stop-and-recreate twice. Returns the last session and the median. */
  def setUp(root: Path): (SparkSession, Double) = {
    var spark = session(root)
    val times = mutable.ArrayBuffer(Heap.uptimeSeconds())
    for (_ <- 1 to 2) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val (s, dt) = Clock.seconds(session(root))
      spark = s; times += dt
    }
    (spark, Stats.median(times.toSeq))
  }

  // ---- passes -----------------------------------------------------------

  final case class EntryRun(name: String, buildNs: Long, execNs: Long,
      startMs: Long, endMs: Long, failed: Boolean, check: Option[Check]) {
    def ms: Double = (buildNs + execNs) / 1e6
  }
  final case class PassOut(wallS: Double, entries: Seq[EntryRun])

  /** Runs `ops` in order. `build` is the call into the entry function (or
    * memo builder), `exec` the collect of its rows. */
  def runPass(spark: SparkSession, dir: String, ops: Seq[Op], tag: Option[String]): PassOut = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val entries = ops.map { op =>
      tag.foreach(t => sc.setLocalProperty(EntryTag, s"$t/${op.name}"))
      val startMs = System.currentTimeMillis()
      val a = System.nanoTime()
      var b = a
      var c = a
      val rows = try {
        val df = op.run(spark, dir)
        b = System.nanoTime()
        val rows = df.map(_.collect())
        c = System.nanoTime()
        Right(rows)
      } catch { case NonFatal(e) =>
        c = System.nanoTime(); b = c
        System.err.println(s"[perfbench] ${op.name} failed: ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200))
        Left(e)
      }
      EntryRun(op.name, b - a, c - b, startMs, System.currentTimeMillis(), rows.isLeft,
        rows.toOption.flatten.map(rowsCheck))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(EntryTag, null)
    PassOut(wall, entries)
  }

  // ---- output checks -----------------------------------------------------

  /** Order-independent hash of a collection of rows; doubles are rounded
    * to 10 significant digits so last-bit summation order cannot flip it. */
  def valueHash(v: Any): Long = v match {
    case null => 0x6A09E667F3BCC909L
    case d: Double =>
      if (d.isNaN) 0x7FF8L
      else Content.mix(java.lang.Double.doubleToLongBits(
        if (d == 0.0) 0.0 else BigDecimal(d).round(new java.math.MathContext(10)).toDouble))
    case f: Float => valueHash(f.toDouble)
    case n @ (_: Long | _: Int | _: Short | _: Byte) => Content.mix(n.asInstanceOf[Number].longValue)
    case r: Row => r.toSeq.foldLeft(0x3C6EF372FE94F82BL)((acc, x) => Content.mix(acc * 31 + valueHash(x)))
    case m: scala.collection.Map[_, _] =>
      m.foldLeft(0x510E527FADE682D1L) { case (acc, (k, x)) => acc + Content.mix(valueHash(k) * 31 + valueHash(x)) }
    case s: scala.collection.Seq[_] => s.foldLeft(0xBB67AE8584CAA73BL)((acc, x) => Content.mix(acc * 31 + valueHash(x)))
    case b: Array[Byte] => Content.hash(b)
    case other => Content.hash(other.toString)
  }

  final case class Check(rows: Long, hash: Long) {
    def render: String = s"[$rows, \"${java.lang.Long.toHexString(hash)}\"]"
  }

  def rowsCheck(rows: Array[Row]): Check =
    Check(rows.length.toLong, rows.foldLeft(0L)((acc, r) => acc + valueHash(r)))
  def frameCheck(df: DataFrame): Check = rowsCheck(df.collect())

  def expectedPath(root: Path, workload: String): Path =
    root.resolve(s"perfbench/expected/$workload.json")

  def readExpected(path: Path): Map[String, Check] = {
    val text = new String(Files.readAllBytes(path), StandardCharsets.UTF_8)
    """"([^"]+)":\s*\[(\d+),\s*"([0-9a-f]+)"\]""".r.findAllMatchIn(text).map { m =>
      m.group(1) -> Check(m.group(2).toLong, java.lang.Long.parseUnsignedLong(m.group(3), 16))
    }.toMap
  }

  def writeExpected(path: Path, checks: Map[String, Check]): Unit =
    Json.write(path, checks.toSeq.sortBy(_._1)
      .map { case (k, c) => s"  ${Json.str(k)}: ${c.render}" }
      .mkString("{\n", ",\n", "\n}\n"))

  // ---- tracing -------------------------------------------------------------

  /** Per-entry Spark counters, keyed by the entry tag each job carries. */
  final class Tracer extends SparkListener {
    final class Acc {
      var jobs, stages, tasks, cpuNs, runMs, shuffleWrite, spill = 0L
      var running, maxRunning = 0
      val jobSpans = mutable.Map[Int, (Long, Long)]()
    }
    val byTag = mutable.Map[String, Acc]()
    private val stageTag = mutable.Map[Int, String]()
    private val jobTag = mutable.Map[Int, String]()
    private var openJobs = 0
    @volatile var lastEventNs: Long = System.nanoTime()

    private def touch(): Unit = lastEventNs = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      touch()
      openJobs += 1
      Option(e.properties).flatMap(p => Option(p.getProperty(EntryTag))).foreach { tag =>
        val a = byTag.getOrElseUpdate(tag, new Acc)
        a.jobs += 1
        a.jobSpans(e.jobId) = (e.time, Long.MaxValue)
        jobTag(e.jobId) = tag
        e.stageIds.foreach(stageTag(_) = tag)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      touch()
      openJobs -= 1
      jobTag.remove(e.jobId).foreach { tag =>
        val a = byTag(tag)
        a.jobSpans(e.jobId) = (a.jobSpans(e.jobId)._1, e.time)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      touch()
      stageTag.get(e.stageInfo.stageId).foreach(byTag(_).stages += 1)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      touch()
      stageTag.get(e.stageId).foreach { t =>
        val a = byTag(t); a.running += 1; a.maxRunning = math.max(a.maxRunning, a.running)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      touch()
      stageTag.get(e.stageId).foreach { t =>
        val a = byTag(t)
        a.running -= 1
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

    /** Wait until every job has ended and the bus has been quiet a while. */
    def awaitQuiet(): Unit = {
      val deadline = System.nanoTime() + 15e9.toLong
      while (System.nanoTime() < deadline &&
          (synchronized(openJobs) > 0 || System.nanoTime() - lastEventNs < 300e6))
        Thread.sleep(50)
    }

    /** Entry wall time not covered by any of its jobs, in ms. */
    def outsideJobsMs(tag: String, e: EntryRun): Double = synchronized {
      val spans = byTag.get(tag).map(_.jobSpans.values.toSeq).getOrElse(Nil)
        .map { case (s, f) => (math.max(s, e.startMs), math.min(f, e.endMs)) }
        .filter { case (s, f) => f > s }.sortBy(_._1)
      var covered = 0L
      var (cs, cf) = (Long.MinValue, Long.MinValue)
      spans.foreach { case (s, f) =>
        if (s > cf) { if (cf > cs) covered += cf - cs; cs = s; cf = f }
        else cf = math.max(cf, f)
      }
      if (cf > cs) covered += cf - cs
      (e.endMs - e.startMs - covered).toDouble
    }
  }

  /** Per-entry rows of one traced pass. */
  def traceRows(tracer: Tracer, tag: String, p: PassOut): Seq[Map[String, Double]] =
    p.entries.map { e =>
      val t = s"$tag/${e.name}"
      val a = tracer.synchronized(tracer.byTag.getOrElse(t, new tracer.Acc))
      Map(
        "spark.jobs" -> a.jobs.toDouble, "spark.stages" -> a.stages.toDouble,
        "spark.tasks" -> a.tasks.toDouble, "spark.task_cpu_ms" -> a.cpuNs / 1e6,
        "spark.task_run_ms" -> a.runMs.toDouble,
        "spark.shuffle_write_bytes" -> a.shuffleWrite.toDouble,
        "spark.spill_bytes" -> a.spill.toDouble,
        "spark.outside_jobs_ms" -> tracer.outsideJobsMs(t, e),
        "spark.max_concurrent_tasks" -> a.maxRunning.toDouble,
        "spark.entry.build_ms" -> e.buildNs / 1e6,
        "spark.entry.exec_ms" -> e.execNs / 1e6)
    }

  /** Median per `Tables.load` call, in ms. */
  def tablesLoadMs(spark: SparkSession, dir: String, rounds: Int): Double =
    Stats.median(for (_ <- 1 to rounds; t <- Tables.names)
      yield Clock.seconds(Tables.load(spark, dir, t))._2 * 1e3)

  // ---- workload ---------------------------------------------------------

  def run(a: Main.Args, workload: String): Result = {
    val dir = a.root.resolve(DataDir).toString
    val rnd = new scala.util.Random(a.seed)
    def order(): Seq[Op] = rnd.shuffle(relational)
    val expPath = expectedPath(a.root, workload)
    val expected = if (a.recordExpected) Map.empty[String, Check] else readExpected(expPath)
    val (spark, setupS) = setUp(a.root)
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    val cold = runPass(spark, dir, order(), None)
    // untraced: warm passes until --seconds have passed, at least one.
    // Traced: one untraced and one traced pass, whose ratio is the overhead.
    val warm = mutable.ArrayBuffer[PassOut]()
    val t0 = System.nanoTime()
    while (warm.isEmpty ||
        (!a.trace && warm.size < 20 && (System.nanoTime() - t0) / 1e9 < a.seconds))
      warm += runPass(spark, dir, order(), None)
    val traced = tracer.map(_ => runPass(spark, dir, order(), Some("traced")))
    val heapMb = Heap.settledAfterGc() / 1e6
    val memoPass = tracer.map { _ =>
      Memos.clearAll()
      runPass(spark, dir, memos, Some("memo"))
    }
    val passes = cold +: (warm.toSeq ++ traced ++ memoPass)

    val want = if (a.recordExpected) {
      val checks = cold.entries.flatMap(e => e.check.map(e.name -> _)).toMap
      writeExpected(expPath, checks)
      checks
    } else expected
    def bad(e: EntryRun): Boolean = e.failed || (e.check.isDefined && e.check != want.get(e.name))
    passes.flatMap(_.entries).filter(bad).map(_.name).distinct
      .foreach(n => System.err.println(s"[perfbench] $workload: output check failed for $n"))
    val attempted = passes.map(_.entries.size).sum.toLong
    val failed = passes.map(_.entries.count(bad)).sum.toLong

    val warmMs = warm.toSeq.flatMap(_.entries.filterNot(_.failed).map(_.ms))
    val metrics: Seq[(String, Metric)] = tracer match {
      case None => Seq(
        "setup_s" -> Metric(setupS, "s"),
        "cold_pass_s" -> Metric(cold.wallS, "s"),
        "warm_pass_s" -> Metric(Stats.median(warm.map(_.wallS).toSeq), "s"),
        "op_p50_ms" -> Metric(Stats.quantile(warmMs, 0.5), "ms"),
        "op_p90_ms" -> Metric(Stats.quantile(warmMs, 0.9), "ms"),
        "heap_mb" -> Metric(heapMb, "MB"))
      case Some(tr) =>
        tr.awaitQuiet()
        val rows = traceRows(tr, "traced", traced.get)
        val sparkLayers = Seq("spark.jobs", "spark.stages", "spark.tasks",
          "spark.task_cpu_ms", "spark.task_run_ms", "spark.shuffle_write_bytes",
          "spark.spill_bytes", "spark.outside_jobs_ms", "spark.entry.build_ms",
          "spark.entry.exec_ms").map(k => k -> rows.map(_(k)).sum) :+
          ("spark.max_concurrent_tasks" -> rows.map(_("spark.max_concurrent_tasks")).max)
        val memoLayers = memoPass.get.entries.map { e =>
          s"memo.${e.name.stripPrefix("memo:")}.build_ms" -> e.buildNs / 1e6
        }
        val values = (sparkLayers ++ memoLayers ++ Seq(
          "tables.load_ms" -> tablesLoadMs(spark, dir, 5),
          "trace.overhead_pct" -> 100 * (traced.get.wallS / warm.head.wallS - 1))).toMap
        val entryRows = Seq("traced" -> traced.get, "memo" -> memoPass.get).flatMap { case (tag, p) =>
          p.entries.zip(traceRows(tr, tag, p)).map { case (e, r) => s"$tag/${e.name}" -> r }
        }
        writeTrace(a, workload, entryRows, values)
        PerLayer.metrics(values)
    }
    Result(failed == 0, attempted, failed, metrics)
  }

  private def writeTrace(a: Main.Args, workload: String,
      rows: Seq[(String, Map[String, Double])], summary: Map[String, Double]): Unit = {
    val entries = rows.map { case (n, r) =>
      Json.obj(("entry" -> Json.str(n)) +: r.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
    }
    val text = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> a.seed.toString,
      "summary" -> Json.obj(summary.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "entries" -> entries.mkString("[\n", ",\n", "\n]")))
    Json.write(a.root.resolve(s".bench_build/trace/$workload-seed${a.seed}.json"), text + "\n")
  }
}
