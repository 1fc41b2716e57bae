package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables.{dec, load}

/** Deterministic sampling & dataset splits — the reproducibility
  * primitive a training-data pipeline needs: `df.sample()` depends on
  * partitioning and seed plumbing, but a HASH-BUCKET sample is a pure
  * function of the row key — stable across runs, engines, partitionings
  * and cluster sizes, so holdout membership never drifts between
  * pipeline versions (and is checkable against the DuckDB oracle).
  *
  * Bucket = last hex nibble of md5(key): 16 equal buckets. md5 renders
  * identical hex on every engine; bucket membership is a string compare
  * (no integer-conversion dialect differences). Scale: a codegen'd
  * projection + filter — pushdown-friendly, no shuffle, no state.
  */
object Sampling {

  /** 16-way bucket id as the last md5 hex character ('0'..'f'). */
  def md5Bucket(key: Column): Column =
    substring(md5(key.cast("string")), 32, 1)

  private val hex = "0123456789abcdef"

  /** Keep rows whose bucket is in [0, buckets): rate = buckets/16. */
  def deterministicSample(df: DataFrame, keyCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1 && buckets <= 16, s"buckets 1..16, got $buckets")
    df.filter(md5Bucket(col(keyCol))
      .isin(hex.take(buckets).map(_.toString): _*))
  }

  /** Q46: per-source doc counts of the deterministic 4/16 sample. */
  def q46Sample(spark: SparkSession, dir: String): DataFrame =
    deterministicSample(load(spark, dir, "documents"), "doc_id", 4)
      .groupBy("source")
      .agg(count(lit(1)).as("n"))
      .orderBy("source")

  /** 20-bit integer bucket from the first five md5 hex nibbles —
    * engine-portable (hex-char position lookup, no integer-parsing
    * dialect: Spark `instr` ≡ DuckDB `strpos`, both 1-based). Uniform
    * on [0, 2²⁰). */
  def md5Bucket20(key: Column): Column = {
    val h = md5(key.cast("string"))
    (1 to 5).map(i =>
        (call_function("instr", lit("0123456789abcdef"),
          substring(h, i, 1)) - 1)
          .cast("long") * lit(1L << (4 * (5 - i))))
      .reduce(_ + _)
  }

  /** Q103: DETERMINISTIC WEIGHTED sampling — keep a row with
    * probability proportional to its weight (price-proportional
    * here), as a PURE function of the row key: keep iff
    * bucket₂₀(key)·max_w < w·2²⁰, all in exact integers (weights are
    * cents via the DECIMAL cast — no float thresholds). Reproducible
    * across runs/engines/partitionings like q46, but importance-
    * weighted — the sampler behind weighted corpus mixtures when
    * quality scores, not uniform rates, set inclusion odds.
    *
    * Scale: one 1-row broadcast (max weight) + a codegen'd filter; no
    * shuffle before the final rollup. */
  def q103WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val ord = load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        dec(col("o_totalprice")).as("pd"))
      .withColumn("cents", (col("pd") * 100).cast("long"))
    val mx = ord.agg(max(col("cents")).as("mxc"))
    ord.crossJoin(broadcast(mx))
      .filter(md5Bucket20(col("o_orderkey")) * col("mxc") <
        col("cents") * lit(1L << 20))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("pd")).cast("double").as("tot"))
      .orderBy("o_orderpriority")
  }

  /** Q139: TEMPERATURE-SCALED mixture apportionment (the mC4/"α=0.5
    * sampling" recipe): per-source weights w_s = ⌊√(n_s·10⁶)⌋ (integer
    * scaled isqrt — √ flattens the size distribution so small sources
    * aren't drowned), then EXACT LARGEST-REMAINDER apportionment of
    * 10000 bp: floor shares qₛ = ⌊10⁴·wₛ/W⌋ first, then the leftover
    * 10⁴ − Σqₛ basis points go to the largest integer remainders
    * (10⁴·wₛ mod W, source tiebreak). Σ alloc_bp = 10⁴ EXACTLY — the
    * allocation a mixture scheduler can hand straight to a sampler —
    * and a computation class nothing else exercises (apportionment).
    *
    * Determinism: n·10⁶ < 2⁵³ casts to double exactly and IEEE √ is
    * correctly rounded, so ⌊√.⌋ is engine-exact; everything after is
    * BIGINT arithmetic. Scale: per-source counts partial-combine; the
    * apportionment runs on the tiny per-source frame (one window). */
  def q139TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val w = load(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("wt",
        expr("CAST(floor(sqrt(CAST(n_docs * 1000000 AS DOUBLE))) AS BIGINT)"))
    val withTot = w.crossJoin(broadcast(w.agg(sum(col("wt")).as("wsum"))))
      .withColumn("fl", expr("(wt * 10000) div wsum"))
      .withColumn("rem", expr("(wt * 10000) % wsum"))
    val deficit = withTot.agg((lit(10000L) - sum(col("fl"))).as("deficit"))
    val wRank = Window.orderBy(col("rem").desc, col("source"))
    withTot.crossJoin(broadcast(deficit))
      .withColumn("rk", row_number().over(wRank))
      .select(col("source"), col("n_docs"), col("wt"),
        (col("fl") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
          .as("alloc_bp"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q153

  /** Q153: deterministic TRAIN/VAL/TEST split assignment + split audit
    * — the reproducibility contract of a training pipeline: membership
    * is a pure function of doc_id (first two hex chars of md5, string-
    * compared against 'cd'/'e6' → ≈80.1/9.8/10.2%), so holdout sets
    * never drift across runs, engines, partitionings or cluster
    * sizes. Output is the per-(split, source) audit card: doc count,
    * token volume, and each cell's share of the corpus in basis
    * points — the table a data-card review checks before a train run.
    *
    * Determinism: md5 renders identical lowercase hex in both engines
    * (the q46 bucket discipline); thresholds are string compares — no
    * integer-conversion dialect. Scale: codegen'd projection + one
    * partial-combining (split, source) agg + a 1-row broadcast. */
  def q153SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        expr("substring(md5(CAST(doc_id AS STRING)), 1, 2)").as("h2"))
      .withColumn("split",
        expr("CASE WHEN h2 < 'cd' THEN 'train'" +
          " WHEN h2 < 'e6' THEN 'val' ELSE 'test' END"))
    val agg = d.groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
    agg.crossJoin(broadcast(agg.agg(sum(col("n_docs")).as("total"))))
      .select(col("split"), col("source"), col("n_docs"),
        col("n_tokens"),
        expr("(n_docs * 10000) div total").as("share_bp"))
      .orderBy("split", "source")
  }

  // ---------------------------------------------------------------- q242

  /** Q242: SPLIT-BALANCE AUDIT — does the md5 train/test split
    * preserve the order-value distribution? (The PSI-style check in
    * q223's TVD form: floored ppm shares per fixed price bucket, |Δ|
    * per bucket, bucket −1 = exact TVD.) A hash split is unbiased by
    * construction, but THIS is the evidence an ML-ops review files —
    * and the same query audits any non-hash split where bias is
    * plausible.
    *
    * bucket = least(floor(price/30000), 9): floor BEFORE the BIGINT
    * cast, because CAST(DOUBLE AS BIGINT) ROUNDS in DuckDB and
    * truncates in Spark — floor is the identical IEEE op in both.
    * Scale: one orders-sized projection + 10-row aggregates. */
  def q242SplitBalance(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "orders")
      .select(
        expr("CASE WHEN substring(md5(CAST(o_orderkey AS STRING)), 1, 2)" +
          " < 'cd' THEN 'train'" +
          " WHEN substring(md5(CAST(o_orderkey AS STRING)), 1, 2)" +
          " < 'e6' THEN 'val' ELSE 'test' END").as("split"),
        least(floor(col("o_totalprice") / lit(30000.0)).cast("long"),
          lit(9L)).as("bucket"))
      .filter(col("split") =!= "val")
    val cells = d.groupBy("bucket")
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L))
          .as("n_train"),
        sum(when(col("split") === "test", 1L).otherwise(0L))
          .as("n_test"))
    val tot = cells.agg(sum(col("n_train")).as("tt"),
      sum(col("n_test")).as("te"))
    val shares = cells.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_train"), col("n_test"),
        expr("CASE WHEN tt > 0 THEN (n_train * 1000000) div tt" +
          " ELSE 0 END").as("train_ppm"),
        expr("CASE WHEN te > 0 THEN (n_test * 1000000) div te" +
          " ELSE 0 END").as("test_ppm"))
      .withColumn("d_ppm", abs(col("train_ppm") - col("test_ppm")))
    val total = shares.agg(sum(col("n_train")).as("n_train"),
        sum(col("n_test")).as("n_test"),
        sum(col("train_ppm")).as("train_ppm"),
        sum(col("test_ppm")).as("test_ppm"),
        expr("sum(d_ppm) div 2").as("d_ppm"))
      .select(lit(-1L).as("bucket"), col("n_train"), col("n_test"),
        col("train_ppm"), col("test_ppm"), col("d_ppm"))
    shares.unionByName(total).orderBy("bucket")
  }

  // ---------------------------------------------------------------- q164

  /** Q164: A/B SWITCHBACK READOUT — deterministic 50/50 customer
    * assignment (first md5 hex nibble < '8' → treatment) and the
    * per-priority uplift readout: counts, mean order value per arm,
    * and the relative uplift in ppm. The experimentation-analysis
    * class (assignment + causal readout) the sampling family sets up
    * but nothing previously read out.
    *
    * Determinism: assignment is a pure function of custkey (the q46
    * discipline — membership can never drift); sums are exact DECIMAL
    * cents; the three doubles (means, uplift) are computed with the
    * SAME op sequence on the same integers in both engines (the
    * q51/q92 IEEE rule), so the gate hash holds. The cross-multiplied
    * integer form of uplift would overflow BIGINT at fixture scale
    * (S·N ≈ 10¹⁷ · 10⁶), so the ratio is the documented double path.
    * Scale: one partial-combining (priority, variant) agg — six rows
    * out — then a pivot-by-join on the tiny frame. */
  def q164AbReadout(spark: SparkSession, dir: String): DataFrame = {
    val assigned = load(spark, dir, "orders")
      .select(col("o_orderpriority").as("priority"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS BIGINT)").as("cents"),
        expr("CASE WHEN substring(md5(CAST(o_custkey AS STRING)), 1, 1)" +
          " < '8' THEN 'T' ELSE 'C' END").as("variant"))
    val arm = assigned.groupBy("priority", "variant")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    val t = arm.filter(col("variant") === "T")
      .select(col("priority"), col("n").as("n_t"), col("s").as("s_t"))
    val c = arm.filter(col("variant") === "C")
      .select(col("priority"), col("n").as("n_c"), col("s").as("s_c"))
    t.join(c, "priority")
      .select(col("priority"), col("n_t"), col("n_c"),
        expr("CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE) / 100")
          .as("mean_t"),
        expr("CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) / 100")
          .as("mean_c"),
        expr("(CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE) /" +
          " (CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE)) - 1.0)" +
          " * 1000000").as("uplift_ppm"))
      .orderBy("priority")
  }

  // ---------------------------------------------------------------- q197

  /** Q197: CLASS-BALANCED DOWNSAMPLING — every label reduced to the
    * minority class's size, membership a pure function of the key
    * (per-label rank under the (md5(id), id) order — the q153/q46
    * discipline: no seed, no partitioning dependence, identical in
    * any engine). THE class-imbalance prep a classifier-training
    * pipeline runs before fitting; the gated output is the per-label
    * audit (before/after counts + the kept-id checksum that pins the
    * exact membership).
    *
    * Scale: one per-label rank window (spill-sorted) + slim aggs; the
    * minority size is a 1-row broadcast. */
  def q197ClassBalance(spark: SparkSession, dir: String): DataFrame = {
    val v = load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val sizes = v.groupBy("label").agg(count(lit(1)).as("n_before"))
    val m = sizes.agg(min(col("n_before")).as("m"))
    val w = Window.partitionBy("label")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
    v.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(m))
      .filter(col("rk") <= col("m"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("id_sum"))
      .join(broadcast(sizes), "label")
      .select(col("label"), col("n_before"), col("n_kept"),
        col("id_sum"))
      .orderBy("label")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_class_balance" -> (q197ClassBalance _),
    "q46_det_sample" -> (q46Sample _),
    "q103_weighted_sample" -> (q103WeightedSample _),
    "q139_temperature_mix" -> (q139TemperatureMix _),
    "q153_split_assign" -> (q153SplitAssign _),
    "q242_split_balance" -> (q242SplitBalance _),
    "q164_ab_readout" -> (q164AbReadout _),
  )

  val oracle: Map[String, String] = Map(
    // q197: same pure-function-of-key rank (BIGINT→string rendering
    // is identical, so md5 agrees), same minority-size cut, same
    // membership checksum.
    "q197_class_balance" ->
      """WITH v AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label
        |  FROM embeddings),
        |sizes AS (SELECT label, COUNT(*) AS n_before FROM v
        |          GROUP BY label),
        |m AS (SELECT MIN(n_before) AS m FROM sizes),
        |r AS (
        |  SELECT label, vec_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY label
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        |      AS BIGINT) AS rk
        |  FROM v),
        |k AS (
        |  SELECT r.label, COUNT(*) AS n_kept,
        |    CAST(SUM(r.vec_id) AS BIGINT) AS id_sum
        |  FROM r, m WHERE r.rk <= m.m GROUP BY r.label)
        |SELECT k.label, s.n_before, k.n_kept, k.id_sum
        |FROM k JOIN sizes s ON s.label = k.label
        |ORDER BY k.label""".stripMargin,
    // q164: same md5-nibble assignment, same exact-cents sums, same
    // double op sequence for the means/uplift (identical ints →
    // identical IEEE results).
    "q164_ab_readout" ->
      """WITH a AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CASE WHEN substring(md5(CAST(o_custkey AS VARCHAR)), 1, 1)
        |      < '8' THEN 'T' ELSE 'C' END AS variant
        |  FROM orders),
        |arm AS (
        |  SELECT priority, variant, COUNT(*) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS s
        |  FROM a GROUP BY priority, variant)
        |SELECT t.priority, t.n AS n_t, c.n AS n_c,
        |  CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE) / 100 AS mean_t,
        |  CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE) / 100 AS mean_c,
        |  (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE) /
        |   (CAST(c.s AS DOUBLE) / CAST(c.n AS DOUBLE)) - 1.0)
        |    * 1000000 AS uplift_ppm
        |FROM arm t JOIN arm c
        |  ON c.priority = t.priority
        | AND t.variant = 'T' AND c.variant = 'C'
        |ORDER BY t.priority""".stripMargin,
    // q242: same md5 split function, same floor-before-cast bucket,
    // floored ppm shares, TVD total row (q223 shape).
    "q242_split_balance" ->
      """WITH d AS (
        |  SELECT CASE WHEN substring(md5(CAST(o_orderkey AS VARCHAR)),
        |             1, 2) < 'cd' THEN 'train'
        |           WHEN substring(md5(CAST(o_orderkey AS VARCHAR)),
        |             1, 2) < 'e6' THEN 'val'
        |           ELSE 'test' END AS split,
        |    least(CAST(floor(o_totalprice / 30000.0) AS BIGINT), 9)
        |      AS bucket
        |  FROM orders),
        |cells AS (
        |  SELECT bucket,
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_train,
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_test
        |  FROM d WHERE split <> 'val' GROUP BY bucket),
        |tot AS (
        |  SELECT CAST(SUM(n_train) AS BIGINT) AS tt,
        |    CAST(SUM(n_test) AS BIGINT) AS te FROM cells),
        |sh2 AS (
        |  SELECT bucket, n_train, n_test, train_ppm, test_ppm,
        |    abs(train_ppm - test_ppm) AS d_ppm
        |  FROM (
        |    SELECT bucket, n_train, n_test,
        |      CASE WHEN tt > 0 THEN (n_train * 1000000) // tt
        |           ELSE 0 END AS train_ppm,
        |      CASE WHEN te > 0 THEN (n_test * 1000000) // te
        |           ELSE 0 END AS test_ppm
        |    FROM cells, tot)),
        |total AS (
        |  SELECT CAST(-1 AS BIGINT) AS bucket,
        |    CAST(SUM(n_train) AS BIGINT) AS n_train,
        |    CAST(SUM(n_test) AS BIGINT) AS n_test,
        |    CAST(SUM(train_ppm) AS BIGINT) AS train_ppm,
        |    CAST(SUM(test_ppm) AS BIGINT) AS test_ppm,
        |    CAST(SUM(d_ppm) AS BIGINT) // 2 AS d_ppm
        |  FROM sh2)
        |SELECT * FROM sh2 UNION ALL SELECT * FROM total
        |ORDER BY bucket""".stripMargin,
    // q153: same md5-prefix assignment (identical lowercase hex both
    // engines), string-compared thresholds, integer share.
    "q153_split_assign" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h2
        |  FROM documents),
        |s AS (
        |  SELECT CASE WHEN h2 < 'cd' THEN 'train'
        |              WHEN h2 < 'e6' THEN 'val'
        |              ELSE 'test' END AS split, source, toks
        |  FROM d),
        |agg AS (
        |  SELECT split, source, COUNT(*) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS n_tokens
        |  FROM s GROUP BY split, source),
        |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM agg)
        |SELECT split, source, n_docs, n_tokens,
        |  (n_docs * 10000) // total AS share_bp
        |FROM agg, tot ORDER BY split, source""".stripMargin,
    // q139: same scaled isqrt weights, same exact integer
    // largest-remainder apportionment (rem desc, source tiebreak).
    "q139_temperature_mix" ->
      """WITH w AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(COUNT(*) * 1000000 AS DOUBLE)))
        |      AS BIGINT) AS wt
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(wt) AS BIGINT) AS wsum FROM w),
        |f AS (
        |  SELECT source, n_docs, wt,
        |    (wt * 10000) // wsum AS fl,
        |    (wt * 10000) % wsum AS rem
        |  FROM w, t),
        |d AS (SELECT 10000 - CAST(SUM(fl) AS BIGINT) AS deficit FROM f),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM f)
        |SELECT source, n_docs, wt,
        |  CAST(fl + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_bp
        |FROM r, d ORDER BY source""".stripMargin,
    // q103: the same five-nibble bucket spelled with strpos (DuckDB's
    // 1-based instr), the same exact-integer threshold compare.
    "q103_weighted_sample" ->
      """WITH ord AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS pd,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    md5(CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM orders),
        |mx AS (SELECT MAX(cents) AS mxc FROM ord),
        |b AS (
        |  SELECT o_orderpriority, pd, cents,
        |    (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 65536
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 4096
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 5, 1)) - 1)
        |      AS bucket
        |  FROM ord)
        |SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(pd) AS DOUBLE) AS tot
        |FROM b, mx
        |WHERE bucket * mxc < cents * 1048576
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q46_det_sample" ->
      """SELECT source, COUNT(*) AS n FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 32, 1)
        |  IN ('0', '1', '2', '3')
        |GROUP BY source ORDER BY source""".stripMargin,
  )
}
