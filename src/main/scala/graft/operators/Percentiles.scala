package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact percentiles by RANK SELECTION instead of per-group
  * value buffering.
  *
  * Spark's builtin `percentile` / `percentile_disc` aggregates collect
  * every value of a group into one in-heap aggregation buffer
  * (OpenHashMap in Percentile) — exact, but a hot group at 100 TB is an
  * executor OOM. This operator computes the same doubles through the
  * window machinery instead:
  *
  *   1. one ranked window pass per value column — `row_number` over
  *      (group, value) rides Spark's UnsafeExternalSorter, which SPILLS
  *      TO DISK, so per-executor memory is bounded regardless of group
  *      size (the builtin's buffer is not);
  *   2. a codegen'd filter keeps only the O(#fractions) boundary rows
  *      per group (`rn ∈ {⌊p·(n−1)⌋+1, ⌈p·(n−1)⌉+1}`);
  *   3. a tiny hash agg interpolates `lo + (hi − lo)·(pos − ⌊pos⌋)` —
  *      bit-identical to the builtin's formula (and DuckDB
  *      `quantile_cont`'s), so swapping implementations under an
  *      oracle-gated query is hash-neutral. PercentileRankSpec pins
  *      rank-based ≡ builtin on real and adversarial (tied) data.
  *
  * Residual caveat of [[discByRank]]/[[contByRank]]: a single group
  * still sorts in a single task — rank selection removes the MEMORY
  * ceiling, not the single-reducer sort. [[discByRankSplit]] removes
  * THAT too: range-bucketize values per group, locate each target
  * rank's bucket from the (tiny) per-bucket cumulative counts, and
  * sort ONLY inside the hit buckets — sub-task parallelism on one
  * colossal group, still bit-exact.
  */
object Percentiles {

  private def ranked(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    val g = groupCols.map(col)
    val wOrd = Window.partitionBy(g: _*).orderBy(col("__v"))
    val wAll = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.filter(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).as("__v"): _*)
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
  }

  /** PERCENTILE_CONT (interpolating) for several fractions of one value
    * column; emits one row per group: groupCols ++ [countName?] ++ the
    * named fraction columns (DOUBLE). */
  def contByRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
      fractions: Seq[(Double, String)], countName: Option[String] = None)
      : DataFrame = {
    val r = ranked(df, groupCols, valueCol)
    def pos(p: Double): Column = lit(p) * (col("__n") - 1).cast("double")
    def lo(p: Double): Column = floor(pos(p)).cast("long") + 1
    def hi(p: Double): Column = ceil(pos(p)).cast("long") + 1
    val keep = fractions.map { case (p, _) =>
      col("__rn") === lo(p) || col("__rn") === hi(p)
    }.reduce(_ || _)
    val aggs = countName.map(n => Seq(max(col("__n")).as(n)))
      .getOrElse(Nil) ++
      fractions.zipWithIndex.flatMap { case ((p, _), i) =>
        Seq(
          max(when(col("__rn") === lo(p), col("__v").cast("double")))
            .as(s"__lo$i"),
          max(when(col("__rn") === hi(p), col("__v").cast("double")))
            .as(s"__hi$i"))
      }
    val out = groupCols.map(col) ++ countName.map(col).toSeq ++
      fractions.zipWithIndex.map { case ((p, name), i) =>
        // EXACTLY the builtin Percentile's arithmetic (two-sided
        // weights, integral positions short-circuit to the lower
        // value) — bit-identical doubles, not just mathematically
        // equal ones: `lo + (hi-lo)*frac` differs in the final ulp.
        when(floor(pos(p)) === ceil(pos(p)), col(s"__lo$i"))
          .otherwise(
            (ceil(pos(p)) - pos(p)) * col(s"__lo$i") +
              (pos(p) - floor(pos(p))) * col(s"__hi$i"))
          .as(name)
      }
    // __n is constant within a group; carry it through the agg for the
    // interpolation arithmetic, then drop it.
    r.filter(keep)
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__n")).as("__n"), aggs: _*)
      .select(out: _*)
  }

  /** PERCENTILE_DISC (SQL-standard discrete): smallest value whose
    * cume_dist ≥ p — the value at sorted position max(1, ⌈p·n⌉). No
    * interpolation; the result is an actual input value in its input
    * type, so cross-engine equality is exact by construction. */
  def discByRank(df: DataFrame, groupCols: Seq[String], valueCol: String,
      fractions: Seq[(Double, String)], countName: Option[String] = None)
      : DataFrame = {
    val r = ranked(df, groupCols, valueCol)
    def target(p: Double): Column =
      greatest(ceil(lit(p) * col("__n").cast("double")).cast("long"),
        lit(1L))
    val keep = fractions.map { case (p, _) => col("__rn") === target(p) }
      .reduce(_ || _)
    val aggs = countName.map(n => Seq(max(col("__n")).as(n)))
      .getOrElse(Nil) ++
      fractions.map { case (p, name) =>
        max(when(col("__rn") === target(p), col("__v"))).as(name)
      }
    r.filter(keep)
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((groupCols.map(col) ++ countName.map(col).toSeq ++
        fractions.map { case (_, n) => col(n) }): _*)
  }

  /** PERCENTILE_DISC for COLOSSAL groups — same answer as
    * [[discByRank]] (spec-pinned), different physics: no task ever
    * sorts a whole group.
    *
    *   1. per-group (min, max, n) — one hash agg;
    *   2. every value gets an order-preserving bucket id via
    *      `width_bucket` over the group's range (monotone: equal
    *      values share a bucket, so boundary ties are safe);
    *   3. per-(group, bucket) counts + a cumulative window over the
    *      ≤`buckets` rows per group locate, for each fraction, WHICH
    *      bucket holds rank ⌈p·n⌉ and the residual rank inside it;
    *   4. only the hit buckets' rows are ranked (row_number within
    *      (group, fraction) — a sort of ~n/buckets rows per task).
    *
    * Worst case (all values equal → one bucket) degrades to
    * discByRank's single-task sort, never worse. Skewed-but-unequal
    * distributions split ~uniformly because buckets are VALUE-range
    * slices of the group's actual [min, max]. */
  def discByRankSplit(df: DataFrame, groupCols: Seq[String],
      valueCol: String, fractions: Seq[(Double, String)],
      buckets: Int = 1024, countName: Option[String] = None)
      : DataFrame = {
    require(fractions.nonEmpty || countName.nonEmpty,
      "discByRankSplit: need at least one fraction or a countName — " +
        "an empty selection has no aggregate to compute")
    val g = groupCols.map(col)
    if (fractions.isEmpty) // count-only degenerate: one hash agg
      return df.filter(col(valueCol).isNotNull)
        .groupBy(g: _*).agg(count(lit(1)).as(countName.get))
    val (bucketed, cum) = bucketCum(df, groupCols, valueCol, buckets)
    // one row per (group, fraction): hit bucket + rank inside it
    val picked = fractions.map { case (p, name) =>
      cum.withColumn("__t", greatest(
          ceil(lit(p) * col("__n").cast("double")).cast("long"),
          lit(1L)))
        .filter(col("__before") < col("__t") &&
          col("__t") <= col("__cum"))
        .select(g :+ col("__b") :+
          (col("__t") - col("__before")).as("__lr") :+
          lit(name).as("__f"): _*)
    }.reduce(_ unionByName _)
    val aggs = countName.map(n => Seq(max(col("__n")).as(n)))
      .getOrElse(Nil) ++
      fractions.map { case (_, name) =>
        max(when(col("__f") === name, col("__v"))).as(name)
      }
    chosenRows(bucketed, picked, groupCols)
      .groupBy(g: _*)
      .agg(aggs.head, aggs.tail: _*)
      .select((groupCols.map(col) ++ countName.map(col).toSeq ++
        fractions.map { case (_, n) => col(n) }): _*)
  }

  /** PERCENTILE_CONT for COLOSSAL groups — [[contByRank]]'s answer
    * ([[PercentileRankSpec]] pins bit-identity against the builtin and
    * the whole-group path) with [[discByRankSplit]]'s physics: two
    * target ranks per fraction (⌊p·(n−1)⌋+1 and ⌈p·(n−1)⌉+1) are
    * located via the bucket cumulative counts, only hit buckets sort,
    * and the final agg interpolates with EXACTLY the builtin
    * Percentile's two-sided-weight arithmetic. */
  def contByRankSplit(df: DataFrame, groupCols: Seq[String],
      valueCol: String, fractions: Seq[(Double, String)],
      buckets: Int = 1024, countName: Option[String] = None)
      : DataFrame = {
    require(fractions.nonEmpty,
      "contByRankSplit: need at least one fraction")
    val g = groupCols.map(col)
    val (bucketed, cum) = bucketCum(df, groupCols, valueCol, buckets)
    def pos(p: Double): Column = lit(p) * (col("__n") - 1).cast("double")
    val picked = fractions.zipWithIndex.flatMap { case ((p, _), i) =>
      Seq(s"__lo$i" -> (floor(pos(p)).cast("long") + 1),
        s"__hi$i" -> (ceil(pos(p)).cast("long") + 1))
    }.map { case (tag, t) =>
      cum.withColumn("__t", t)
        .filter(col("__before") < col("__t") &&
          col("__t") <= col("__cum"))
        .select(g :+ col("__b") :+
          (col("__t") - col("__before")).as("__lr") :+
          lit(tag).as("__f"): _*)
    }.reduce(_ unionByName _)
    val aggs = countName.map(n => Seq(max(col("__n")).as(n)))
      .getOrElse(Nil) ++
      fractions.indices.flatMap { i =>
        Seq(
          max(when(col("__f") === s"__lo$i", col("__v").cast("double")))
            .as(s"__lo$i"),
          max(when(col("__f") === s"__hi$i", col("__v").cast("double")))
            .as(s"__hi$i"))
      }
    val out = groupCols.map(col) ++ countName.map(col).toSeq ++
      fractions.zipWithIndex.map { case ((p, name), i) =>
        // the contByRank / builtin Percentile arithmetic verbatim —
        // bit-identical doubles (the hash gate demands exact ulps)
        when(floor(pos(p)) === ceil(pos(p)), col(s"__lo$i"))
          .otherwise(
            (ceil(pos(p)) - pos(p)) * col(s"__lo$i") +
              (pos(p) - floor(pos(p))) * col(s"__hi$i"))
          .as(name)
      }
    chosenRows(bucketed, picked, groupCols)
      .groupBy(g: _*)
      .agg(max(col("__n")).as("__n"), aggs: _*)
      .select(out: _*)
  }

  /** Shared split-path machinery: order-preserving value-range buckets
    * per group plus the tiny per-bucket cumulative-count frame that
    * locates target ranks. Returns (bucketed values, cum frame with
    * __b/__c/__n/__cum/__before). */
  private def bucketCum(df: DataFrame, groupCols: Seq[String],
      valueCol: String, buckets: Int): (DataFrame, DataFrame) = {
    val g = groupCols.map(col)
    val vals = df.filter(col(valueCol).isNotNull)
      .select(g :+ col(valueCol).as("__v"): _*)
    val stats = vals.groupBy(g: _*).agg(
      min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
      count(lit(1)).as("__n"))
    val bucketed = vals.join(stats, groupCols)
      .withColumn("__b",
        when(col("__mx") <= col("__mn"), lit(1L))
          .otherwise(least(
            width_bucket(col("__v").cast("double"),
              col("__mn").cast("double"), col("__mx").cast("double"),
              lit(buckets)), lit(buckets.toLong))))
    val cnts = bucketed.groupBy(g :+ col("__b"): _*)
      .agg(count(lit(1)).as("__c"), max(col("__n")).as("__n"))
    val wCum = Window.partitionBy(g: _*).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cnts.withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__before", col("__cum") - col("__c"))
    (bucketed, cum)
  }

  /** Restrict the value table to the hit buckets and rank within each
    * (group, target tag) — a sort of ~n/buckets rows per task. `picked`
    * is ≤ #groups × #targets rows by construction — broadcast, so the
    * candidate restriction never shuffles the full value table. */
  private def chosenRows(bucketed: DataFrame, picked: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val wIn = Window
      .partitionBy((groupCols.map(col) :+ col("__f")): _*)
      .orderBy(col("__v"))
    bucketed.join(broadcast(picked), groupCols :+ "__b")
      .withColumn("__rn", row_number().over(wIn))
      .filter(col("__rn") === col("__lr"))
  }

  /** GLOBAL ORDERED SCAN — row_number (and optional running sums) over
    * a TOTAL order, switching physics by frame size (round-10 closure
    * of the "global rank windows" debt in q168/q189/q210/q226):
    *
    *  - **≤ splitThreshold rows**: one unpartitioned window — fine for
    *    entity frames up to ~10⁷ rows, and the fastest plan there;
    *  - **above**: two-phase range-partitioned rank — repartitionByRange
    *    on the order columns (global order across partitions), one
    *    per-partition window (each task sorts only its slice), then a
    *    broadcast join against the nPart-row prefix-offset frame
    *    (counts and running-sum offsets both come from ONE tiny
    *    window over nPart rows). No task ever sorts the whole frame.
    *
    * Both paths are bit-identical PROVIDED `order` is a TOTAL order
    * (the D1 discipline every gated query already follows): range
    * boundaries only decide which partition a row lands in, never its
    * rank. The frame is localCheckpoint'ed first — the row count that
    * picks the path, the scalar totals, and both physical paths read
    * the one materialization (and the checkpoint pins
    * spark_partition_id, which is nondeterministic across lineage
    * replays).
    *
    * `nName`/`totals` attach driver-side scalars (row count / column
    * sums from one agg over the checkpointed frame) as literal
    * columns — replacing the `count().over(Window.partitionBy())`
    * whole-frame windows that were themselves single-task. */
  def globalOrderedScan(frame: DataFrame, order: Seq[Column],
      rnName: String, cums: Seq[(String, String)] = Nil,
      nName: Option[String] = None,
      totals: Seq[(String, String)] = Nil,
      splitThreshold: Long = 10000000L): DataFrame = {
    val f = frame.localCheckpoint()
    val scalarAggs = count(lit(1)).as("__cnt") +:
      totals.map { case (src, out) => sum(col(src)).as(s"__t_$out") }
    val scalars = f.agg(scalarAggs.head, scalarAggs.tail: _*).collect()(0)
    val n = scalars.getAs[Long]("__cnt")
    // sum() over an empty frame is null → lit(null) would be NullType;
    // cast to the sum's real type (and zero-fill) so the attached
    // total column's schema is identical on empty and non-empty frames
    val sumTypes = f.agg(scalarAggs.head, scalarAggs.tail: _*)
      .schema.fields.map(sf => sf.name -> sf.dataType).toMap
    val outCols = f.columns.map(col) ++ (col(rnName) +:
      cums.map { case (_, out) => col(out) }) ++
      nName.map(_ => lit(n).as(nName.get)).toSeq ++
      totals.map { case (_, out) =>
        val v = scalars.getAs[Any](s"__t_$out")
        (if (v == null) lit(0L) else lit(v))
          .cast(sumTypes(s"__t_$out")).as(out) }
    if (n <= splitThreshold) {
      val w = Window.orderBy(order: _*)
      val wCum = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      var r = f.withColumn(rnName, row_number().over(w).cast("long"))
      cums.foreach { case (src, out) =>
        r = r.withColumn(out, sum(col(src)).over(wCum)) }
      r.select(outCols: _*)
    } else {
      val nPart = frame.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt
      val ranged = f.repartitionByRange(nPart, order: _*)
        .withColumn("__pid", spark_partition_id().cast("long"))
        .localCheckpoint()
      val wLoc = Window.partitionBy("__pid").orderBy(order: _*)
      val wLocCum = wLoc.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      var local = ranged
        .withColumn("__lrn", row_number().over(wLoc).cast("long"))
      cums.foreach { case (src, out) =>
        local = local.withColumn(s"__lc_$out",
          sum(col(src)).over(wLocCum)) }
      val offAggs = count(lit(1)).as("__pc") +:
        cums.map { case (src, out) => sum(col(src)).as(s"__ps_$out") }
      val wOff = Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      var offs = ranged.groupBy("__pid")
        .agg(offAggs.head, offAggs.tail: _*)
        .withColumn("__off", coalesce(sum(col("__pc")).over(wOff),
          lit(0L)))
      cums.foreach { case (_, out) =>
        offs = offs.withColumn(s"__so_$out",
          coalesce(sum(col(s"__ps_$out")).over(wOff), lit(0L))) }
      var r = local.join(broadcast(offs.select(
          (col("__pid") +: col("__off") +:
            cums.map { case (_, out) => col(s"__so_$out") }): _*)),
          "__pid")
        .withColumn(rnName, col("__off") + col("__lrn"))
      cums.foreach { case (_, out) =>
        r = r.withColumn(out, col(s"__so_$out") + col(s"__lc_$out")) }
      r.select(outCols: _*)
    }
  }

  /** Exact SQL NTILE(k) from a global rank and total count (both
    * BIGINT column names): the first n mod k tiles hold ⌊n/k⌋+1 rows,
    * the rest ⌊n/k⌋ — the standard-SQL definition both Spark and
    * DuckDB implement, reproduced arithmetically so the rank can come
    * from [[globalOrderedScan]]'s split path. The CASE guards the
    * n < k edge (every row its own tile; the ELSE division by
    * ⌊n/k⌋ = 0 is never evaluated there). */
  def ntileExpr(rnCol: String, nCol: String, k: Int): Column =
    expr(s"""CASE
      WHEN $rnCol <= (($nCol div $k) + 1) * ($nCol % $k)
      THEN ($rnCol - 1) div (($nCol div $k) + 1) + 1
      ELSE ($nCol % $k) +
        ($rnCol - (($nCol div $k) + 1) * ($nCol % $k) - 1)
          div ($nCol div $k) + 1
    END""")

  // ------------------------------------------- q302 quantile sketch

  /** Number of unrolled compaction rounds in the shared cascade — a
    * round is an IDENTITY once a (budget, shard) population fits its
    * budget, so 14 covers any shard up to 16·2¹⁴ ≈ 262k items at the
    * smallest budget (sf0.1 shards carry ~19k; 10× headroom). The
    * oracle unrolls exactly this many MATERIALIZED CTE rounds. */
  private[operators] val sketchRounds = 14

  /** Shard count of the deterministic pre-merge partitioning. */
  private[operators] val sketchShards = 32

  /** The sweep's compactor budgets (q302b's measured knob). */
  private[operators] val sketchBudgets = Seq(16L, 64L, 256L)

  /** ONE deterministic compaction round of the MERGEABLE QUANTILE
    * SKETCH (Manku–Rajagopalan–Lindsay '98 collapse with DETERMINISTIC
    * even-offset selection — the pre-randomization scheme, which is
    * exactly what makes it gateable; KLL randomizes only this offset):
    * within each (budget kb, shard), if the population exceeds kb,
    * rank items under the TOTAL order (v, ok, ln), keep the even
    * ranks, and double their weight; at or under budget the round is
    * an identity. Applied to completion the shard compactor holds
    * ≤ kb items of uniform weight 2^c whose rank error vs the shard's
    * data is ≤ Σ 2^level /2 per compaction — the MRL-style
    * deterministic bound for EVEN populations. ODD-POPULATION NOTE
    * (advice r15): an odd-sized compaction drops its unpaired
    * top-rank item entirely (n = 2t+1 keeps t items of doubled
    * weight — retained weight 2t < n), so total retained weight can
    * drift below the true count by up to 1 per odd compaction; the
    * q302b estimator normalizes by RETAINED weight, so the readout
    * stays self-consistent (and gated), at the cost of the stated
    * bound holding against the retained-weight CDF rather than the
    * raw count — the measured rank-error curve in q302b is the
    * honest number. (Carrying the odd item to the next level would
    * preserve weight but break the uniform-weight-per-level
    * invariant this relational form leans on.)
    *
    * Input/output columns: kb, shard, v, ok, ln, w (all BIGINT). */
  private def sketchRound(cur: DataFrame): DataFrame = {
    val wp = Window.partitionBy("kb", "shard").orderBy("v", "ok", "ln")
    val wn = Window.partitionBy("kb", "shard")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cur.withColumn("rn", row_number().over(wp).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .filter(col("n") <= col("kb") || col("rn") % 2 === 0)
      .withColumn("w",
        when(col("n") > col("kb"), col("w") * 2).otherwise(col("w")))
      .drop("rn", "n")
  }

  /** The full cascade: [[sketchRounds]] conditional rounds, each
    * localCheckpointed (the iterative-loop rule — 14 window rounds of
    * lineage would otherwise stack into one colossal Catalyst plan).
    * Exposed for the planted-data hand goldens in the spec.
    *
    * POPULATION-CEILING GUARD (advice r15): 14 rounds only bound the
    * compactor at ≤ kb items for (budget, shard) populations up to
    * kb·2¹⁴ (≈ 262k at kb = 16). Past that the rounds run out with the
    * shard still over budget — the GATE would keep matching (both
    * engines run the same 14 rounds) while the size bound behind the
    * union-merge story and the PercentileRankSpec ≤ kb pin silently
    * broke. So the post-cascade frame RAISES if any (kb, shard)
    * population still exceeds its budget (the substringDupSpans
    * pos ≥ 2²⁴ precedent): the check is a count window over the
    * ≤ kb·shards·budgets post-cascade rows (~25k at the graded
    * config), and on gated data it is a value no-op — w is returned
    * unchanged — so the oracle needs no twin. */
  private[graft] def sketchCascade(base: DataFrame): DataFrame = {
    var cur = base.localCheckpoint()
    // Round-17 (guide §1.2 "don't compute things you throw away"): a
    // round whose every (kb, shard) group is already within budget is
    // the IDENTITY (the filter keeps all rows, w unchanged), and group
    // sizes evolve deterministically — n → floor(n/2) while n > kb,
    // then frozen — so the number of rounds that can still act is an
    // exact integer function of the initial group sizes. One slim
    // count pre-pass + a driver replay of the halving computes it; the
    // skipped tail rounds are provably no-ops for every group, so the
    // output frame is row-identical to the unrolled 14-round cascade
    // (the DuckDB oracle keeps all 14 MATERIALIZED rounds — its tail
    // rounds are the same no-ops). If some group would still exceed
    // budget after sketchRounds rounds, all sketchRounds run and the
    // post-cascade guard below raises exactly as before. Checkpoints
    // drop to every 2nd round: lineage here is LINEAR (each round
    // reads only its predecessor), so the iterative-loop rule's
    // exponential-reanalysis hazard does not apply and half the
    // materialization jobs suffice.
    val needed = cur.groupBy("kb", "shard")
      .agg(count(lit(1)).as("n"))
      .groupBy("kb").agg(max(col("n")).as("n")).collect()
      .map { row =>
        val kb = row.getLong(0)
        var n = row.getLong(1)
        var r = 0
        while (n > kb && r < sketchRounds) { n = n / 2; r += 1 }
        r
      }.foldLeft(0)(math.max)
    var r = 0
    while (r < needed) {
      cur = sketchRound(cur)
      r += 1
      if (r % 2 == 0 || r == needed) cur = cur.localCheckpoint()
    }
    val wn = Window.partitionBy("kb", "shard")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cur.withColumn("__n", count(lit(1)).over(wn))
      .withColumn("w", when(col("__n") > col("kb"),
          raise_error(concat(
            lit(s"graft: quantile-sketch shard still over budget " +
              s"after $sketchRounds rounds (population exceeds " +
              "kb*2^rounds — raise sketchRounds); kb="),
            col("kb").cast("string"), lit(" shard="),
            col("shard").cast("string"), lit(" n="),
            col("__n").cast("string"))).cast("long"))
        .otherwise(col("w")))
      .drop("__n")
  }

  /** Memoized SHARED quantile-sketch state (q302 + q302b both read
    * it): lineitem extendedprice CENTS (floor(x·100+0.5) — the
    * round-10 double→BIGINT rule), deterministically sharded 32 ways
    * by the Mix universal hash of the row key (10·l_orderkey +
    * l_linenumber — the shard is a FUNCTION OF THE DATA, not of
    * physical partitioning, which is what lets DuckDB replay the
    * distributed build exactly), then the even-offset cascade run at
    * all three budgets. The merged sketch IS the union of the 32
    * shard compactors — a union is the associative merge, and at
    * 100 TB "shard" is simply the executor partition: per-partition
    * compactors as partial aggregates, one tiny union at the end,
    * never a global sort of the data. */
  /** The graded-config cascade over ANY (v, ok, ln) BIGINT values
    * frame — shard by the Mix hash of the row key, fan to the three
    * budgets, run the cascade. ONE body for the memoized lineitem
    * state and the SqlSurface builder. */
  /** The pre-cascade base (sharded, budget-fanned, w = 1), LAZY —
    * split out (round 18) so plan dumps can show the build stages. */
  private[graft] def sketchBaseOf(values: DataFrame): DataFrame = {
    val spark = values.sparkSession
    import spark.implicits._
    val a = graft.functions.Mix.modMults(1)(0)
    val b = graft.functions.Mix.modAdds(1)(0)
    values
      .select(col("v").cast("long").as("v"),
        col("ok").cast("long").as("ok"),
        col("ln").cast("long").as("ln"))
      .withColumn("shard", expr(
        s"(((($a * ((ok * 10 + ln) % 1000000007)) % 1000000007" +
          s" + $b) % 1000000007) % $sketchShards + $sketchShards)" +
          s" % $sketchShards"))
      .crossJoin(broadcast(sketchBudgets.toDF("kb")))
      .select(col("kb"), col("shard"), col("v"), col("ok"),
        col("ln"), lit(1L).as("w"))
  }

  private[graft] def sketchFromValues(values: DataFrame): DataFrame =
    sketchCascade(sketchBaseOf(values))

  /** LAZY build-stage frames for plan dumps (round 18): the sharded
    * base and one compaction round over its materialized leaf. */
  private def qsketchPlanFrames(
      spark: org.apache.spark.sql.SparkSession, dir: String)
      : Seq[(String, DataFrame)] = {
    val base = sketchBaseOf(qsketchValues(spark, dir))
    Seq("base" -> base, "round" -> sketchRound(base.localCheckpoint()))
  }

  /** The graded lineitem cents values frame (ONE body for the memo
    * build and the plan dump). */
  private def qsketchValues(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    graft.Tables.load(spark, dir, "lineitem")
      .select(
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
          .as("v"),
        col("l_orderkey").cast("long").as("ok"),
        col("l_linenumber").cast("long").as("ln"))

  private[operators] val qsketchState: Memo[DataFrame] =
    Memo("qsketch_state", Some(qsketchPlanFrames _)) { (spark, dir) =>
      sketchFromValues(qsketchValues(spark, dir))
    }

  /** The shared cascade as DuckDB CTE text (base/sh/s0/s1..s14) — the
    * ONE renderer both q302 and q302b oracles compose (the pqCtes
    * discipline). Rounds are MATERIALIZED: q302b references the final
    * round twice and plain CTEs would re-expand the chain. */
  private[operators] def sqlSketchCtes(): String = {
    val a = graft.functions.Mix.modMults(1)(0)
    val b = graft.functions.Mix.modAdds(1)(0)
    val budgetList = sketchBudgets.mkString("[", ", ", "]")
    val rounds = (1 to sketchRounds).map { r =>
      s"""s$r AS MATERIALIZED (
         |  SELECT kb, shard, v, ok, ln,
         |    CASE WHEN n > kb THEN w * 2 ELSE w END AS w
         |  FROM (SELECT kb, shard, v, ok, ln, w,
         |          ROW_NUMBER() OVER (PARTITION BY kb, shard
         |            ORDER BY v, ok, ln) AS rn,
         |          COUNT(*) OVER (PARTITION BY kb, shard) AS n
         |        FROM s${r - 1})
         |  WHERE n <= kb OR rn % 2 = 0)""".stripMargin
    }.mkString(",\n")
    s"""base AS (
       |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
       |           AS v,
       |         CAST(l_orderkey AS BIGINT) AS ok,
       |         CAST(l_linenumber AS BIGINT) AS ln
       |  FROM lineitem),
       |sh AS (
       |  SELECT v, ok, ln,
       |    (((($a * ((ok * 10 + ln) % 1000000007)) % 1000000007
       |      + $b) % 1000000007) % $sketchShards + $sketchShards)
       |      % $sketchShards AS shard
       |  FROM base),
       |s0 AS (
       |  SELECT t.kb, s.shard, s.v, s.ok, s.ln, CAST(1 AS BIGINT) AS w
       |  FROM sh s,
       |    (SELECT CAST(unnest($budgetList) AS BIGINT) AS kb) t),
       |$rounds""".stripMargin
  }
}
