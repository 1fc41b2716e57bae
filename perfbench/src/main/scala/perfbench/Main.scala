package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Benchmark entry point.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload <name> --seed <n>
  *   --seconds <s> --trace <0|1> --root <checkout> [--record-expected]
  * java -cp <classpath> perfbench.Main --selftest --root <checkout>
  * }}}
  *
  * The last stdout line is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
  * metrics are the end-to-end ones; with `--trace 1` the per-layer ones,
  * and per-entry rows go to `.bench_build/trace/<workload>-seed<n>.json`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, recordExpected: Boolean, selftest: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var flags = Set.empty[String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case f @ ("--record-expected" | "--selftest") => flags += f; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length =>
          kv(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"bad argument: $other")
      }
    }
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      Paths.get(kv.getOrElse("root", ".")).toAbsolutePath.normalize,
      flags("--record-expected"), flags("--selftest"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result =
      if (a.selftest) SelfTest.run(a)
      else a.workload match {
        case w if Conn.workloads.contains(w) => Conn.run(a, Conn.workloads(w))
        case w if SparkRun.workloads.contains(w) => SparkRun.run(a, w)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
    println(result.json)
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so end here.
    sys.exit(0)
  }
}

/** One metric value with its unit. */
final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Metric)]) {
  def json: String = {
    val ms = metrics.map { case (k, m) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(m.value)}, \"unit\": ${Json.str(m.unit)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def write(path: Path, text: String): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, text.getBytes(StandardCharsets.UTF_8))
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Quantile of a long array in place (sorts it). */
  def quantileOf(xs: Array[Long], n: Int, q: Double): Double = {
    if (n == 0) return 0.0
    java.util.Arrays.sort(xs, 0, n)
    xs(math.min(n - 1, math.round(q * (n - 1)).toInt)).toDouble
  }
}

object Heap {
  private val mem = ManagementFactory.getMemoryMXBean

  /** Heap used after a full collection, in bytes. */
  def usedAfterGc(): Long = {
    System.gc()
    mem.getHeapMemoryUsage.getUsed
  }

  /** Heap used once full collections stop freeing memory: Spark's context
    * cleaner releases blocks asynchronously after a collection. */
  def settledAfterGc(): Long = {
    var prev = -1L
    var cur = usedAfterGc()
    var rounds = 0
    while (rounds < 8 && math.abs(cur - prev) > (1L << 20)) {
      Thread.sleep(200)
      prev = cur; cur = usedAfterGc(); rounds += 1
    }
    cur
  }

  def uptimeSeconds(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

object Clock {
  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
