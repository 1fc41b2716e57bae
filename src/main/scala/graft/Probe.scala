package graft

/** Isolated per-query probe (the verify-skill "3×-loop probe"): run ONE
  * query N times in a single warm JVM and print each timing. The warm
  * (non-first) numbers are the intrinsic plan cost — suite numbers carry
  * GC/codegen churn and ambient host load, so any suspected regression
  * gets confirmed here before it is believed.
  *
  * Usage: runMain graft.Probe <sfDir> <queryName> [reps=4]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 4
    require(reps >= 2,
      s"reps must be >= 2 (the first rep is warmup, excluded): $reps")
    val spark = Harness.session()
    // Round 18: `memo:*` names probe the memo BUILDERS (the bench's
    // most expensive line items had no isolated-probe path — verdict
    // r17 items 2/6). Every rep clears the registry and pre-builds the
    // line items listed earlier (e.g. co_edges25 under louvain2_state)
    // outside the timed region, so each rep times a full rebuild of
    // the named memo alone, as the bench attributes it.
    val run: () => Double =
      if (name.startsWith("memo:")) () => {
        val m = Harness.memoAfterDeps(spark, sfDir, name)
        Harness.timed(spark)(m(spark, sfDir))
      } else {
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query '$name'; known: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
        () => Harness.timed(spark)(Harness.drain(fn(spark, sfDir)))
      }
    var best = Double.MaxValue
    (1 to reps).foreach { i =>
      val sec = run()
      if (i > 1) best = math.min(best, sec) // first rep = warmup, excluded
      println(f"""{"query":"$name","rep":$i,"sec":$sec%.3f}""")
    }
    println(f"""{"query":"$name","warm_min":$best%.3f}""")
    spark.stop()
  }
}
