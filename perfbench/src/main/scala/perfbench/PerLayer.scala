package perfbench

/** The per-layer metrics of a traced run, with their units. Every traced
  * run reports all of them; a layer the workload does not exercise did no
  * work there and reads 0. */
object PerLayer {
  val memoNames: Seq[String] = SparkRun.memos.map(_.name.stripPrefix("memo:"))

  val units: Seq[(String, String)] = Seq(
    "core.source.produce_us" -> "us",
    "core.source.produce_calls" -> "count",
    "core.source.commit_offset_ms" -> "ms",
    "core.sink.poll_us" -> "us",
    "core.sink.polls" -> "count",
    "core.sink.poll_hit_ratio" -> "ratio",
    "core.sink.commit_us" -> "us",
    "core.sink.commits" -> "count",
    "core.sink.decode_us" -> "us",
    "core.sink.loop_self_ms" -> "ms",
    "gen.read_us" -> "us",
    "gen.sink_user_ms" -> "ms",
    "conn.source_rec_per_s" -> "rec/s",
    "conn.sink_rec_per_s" -> "rec/s",
    "conn.retained_bytes_per_rec" -> "B",
    "avro.infer_us" -> "us",
    "avro.parse_us" -> "us",
    "avro.fingerprint_us" -> "us",
    "avro.schema_tostring_us" -> "us",
    "avro.encode_us" -> "us",
    "avro.decode_us" -> "us",
    "avro.frame_bytes" -> "B",
    "avro.retained_bytes_per_parse_decode" -> "B",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms",
    "spark.task_run_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.outside_jobs_ms" -> "ms",
    "spark.max_concurrent_tasks" -> "count",
    "spark.entry.build_ms" -> "ms",
    "spark.entry.exec_ms" -> "ms",
    "tables.load_ms" -> "ms",
  ) ++ memoNames.map(n => s"memo.$n.build_ms" -> "ms") ++ Seq(
    "trace.overhead_pct" -> "%")

  def metrics(values: Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = values.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    units.map { case (k, u) => k -> Metric(values.getOrElse(k, 0.0), u) }
  }
}
