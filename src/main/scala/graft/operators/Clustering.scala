package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.NearestCentroidExpr

/** Elementwise vector-sum Aggregator (top-level for encoder derivation).
  * Partial combine = per-partition elementwise sums, so training a
  * k-cell codebook shuffles k·dim doubles per partition, not N·dim. */
class VectorSumAggregator
    extends Aggregator[Seq[Double], Array[Double], Seq[Double]]
    with Serializable {
  override def zero: Array[Double] = Array.emptyDoubleArray
  override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
    if (b.isEmpty) a.toArray
    else {
      var i = 0
      while (i < b.length && i < a.length) { b(i) += a(i); i += 1 }
      b
    }
  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      var i = 0
      while (i < b1.length && i < b2.length) { b1(i) += b2(i); i += 1 }
      b1
    }
  override def finish(b: Array[Double]): Seq[Double] = b.toSeq
  override def bufferEncoder: Encoder[Array[Double]] =
    ExpressionEncoder[Array[Double]]()
  override def outputEncoder: Encoder[Seq[Double]] =
    ExpressionEncoder[Seq[Double]]()
}

/** Lloyd's k-means over an embedding column — the trained-codebook path
  * for IVF (`Similarity.knnIvf`'s hash-sampled codebook is the
  * bit-deterministic default; this refines it).
  *
  * Scale shape per iteration (the part that matters at 100 TB):
  *  - assignment is `graft_nearest_centroid` — a zero-shuffle codegen'd
  *    projection. The expression computes argmax-dot, so EUCLIDEAN
  *    nearest-centroid is encoded by augmentation: vectors get a trailing
  *    1.0 and centroid j a trailing −|c_j|²/2, making
  *    dot([v,1],[c_j,b_j]) = v·c_j − |c_j|²/2 = −(|v−c_j|² − |v|²)/2,
  *    whose argmax IS the nearest centroid;
  *  - per-cell mean = groupBy(cell) with a partial-combining vector-sum
  *    Aggregator + count: the exchange carries k·dim doubles per
  *    partition, never N vectors;
  *  - only the k×dim codebook is collected per iteration (driver state
  *    is O(k·dim), independent of N).
  *
  * Float addition is order-dependent, so across-run codebooks can differ
  * in low-order bits under different partitionings — acceptable for a
  * training operator, and why the oracle-facing q34c stays on the
  * hash-sampled codebook.
  */
object Clustering {

  /** `[v, 1.0]` — augmentation for Euclidean assignment via argmax-dot. */
  private def augment(v: Column): Column = concat(v, array(lit(1.0)))

  private def augmentMat(mat: Array[Array[Double]]): Array[Array[Double]] =
    mat.map(c => c :+ (-0.5 * c.map(x => x * x).sum))

  private def assignCell(v: Column, cids: Array[Long],
      mat: Array[Array[Double]]): Column =
    call_function(NearestCentroidExpr.name, augment(v),
      typedlit(cids.toSeq), typedlit(augmentMat(mat).map(_.toSeq).toSeq))

  /** Train a k-cell codebook; returns (cell ids 0..k-1, centroids). */
  def kMeansCentroids(vectors: DataFrame, vecCol: String, k: Int,
      iters: Int = 5): (Array[Long], Array[Array[Double]]) = {
    val spark = vectors.sparkSession
    NearestCentroidExpr.register(spark)
    val v = vectors.select(col(vecCol).cast("array<double>").as("v"))
    // deterministic hash-sampled init (same recipe as Similarity.knnIvf)
    var mat: Array[Array[Double]] = v
      .orderBy(xxhash64(col("v"))).limit(k)
      .collect().map(_.getSeq[Double](0).toArray)
    val cids = Array.tabulate(mat.length)(_.toLong)
    val vsum = udaf(new VectorSumAggregator)
    var it = 0
    while (it < iters) {
      val stats = v
        .withColumn("cell", assignCell(col("v"), cids, mat))
        .groupBy("cell")
        .agg(vsum(col("v")).as("sum"), count(lit(1)).as("n"))
        .collect()
      val next = mat.clone()
      stats.foreach { r =>
        val cell = r.getLong(0).toInt
        val sum = r.getSeq[Double](1)
        val n = r.getLong(2).toDouble
        next(cell) = sum.map(_ / n).toArray
      } // cells that captured no vectors keep their previous centroid
      mat = next
      it += 1
    }
    (cids, mat)
  }

  /** ENGINE-SHARED INTEGER k-MEANS (q246) — Lloyd's algorithm with
    * every step exact and engine-replayable, the round-11 flip that
    * puts the clustering TRAINER itself under the hard oracle (the
    * q33a/q229 playbook applied to k-means):
    *
    *  - coordinates integer-quantize to e3 (floor(x·1e3 + 0.5), the
    *    q154 discipline — float→double cast is exact, the multiply/
    *    add/floor are identical IEEE ops in both engines, and all
    *    later arithmetic is BIGINT);
    *  - init = the k seed vectors vec_id < k (fixed, the q230 seed
    *    rule);
    *  - assignment = argmin of the integer squared Euclidean distance
    *    with the TOTAL tie order (d2, cell) — min(struct) here,
    *    ROW_NUMBER(ORDER BY d2, cell) in the oracle;
    *  - update = per-(cell, dim) truncating-div mean `sum(x) div n`
    *    (Spark `div` ≡ DuckDB `//`, both truncate toward zero for any
    *    sign), so centroids STAY integers round over round — no IEEE
    *    mean to diverge. A cell that captures no vectors disappears
    *    (deterministic; the production trainer keeps its previous
    *    centroid instead — documented divergence, both well-defined).
    *
    * The oracle unrolls rounds as chained MATERIALIZED CTEs (the
    * q93/q131 discipline). Scale: this form's assignment is one
    * broadcast(k·dim centroid rows) join + an (N·k)-row partial-
    * combining aggregate per round — audit-scale honest; the
    * PRODUCTION path at 100 TB stays [[kMeansCentroids]] (zero-shuffle
    * codegen'd `graft_nearest_centroid` assignment, k·dim-per-
    * partition vector-sum update); this shared twin is what CI gates,
    * exactly as q33a gates the splitmix MinHash.
    *
    * Returns (centroids long-format (cell, dim, c), assignment
    * (vec_id, cell)) after `rounds` assign→update rounds; both frames
    * localCheckpoint'ed per round (iterative-lineage rule). */
  def kMeansShared(embeddings: DataFrame, k: Int, rounds: Int)
      : (DataFrame, DataFrame) = {
    require(k >= 1 && rounds >= 1)
    val ex = embeddings.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>"))
        .as(Seq("d0", "xd")))
      .select(col("vec_id"), (col("d0") + 1).cast("long").as("dim"),
        floor(col("xd") * lit(1000.0) + lit(0.5)).cast("long").as("x"))
      .localCheckpoint()
    var cent = ex.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("dim"), col("x").as("c"))
      .localCheckpoint()
    var assign: DataFrame = null
    for (_ <- 0 until rounds) {
      val d2 = ex.join(broadcast(cent), "dim")
        .groupBy(col("vec_id"), col("cell"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c")))
          .as("d2"))
      // assign stays LAZY inside the loop (round 17): lineage is
      // linear (cent → d2 → assign → cent', each referenced once), so
      // the per-round cent checkpoint alone truncates the plan; only
      // the RETURNED final assignment materializes (below).
      assign = d2.groupBy("vec_id")
        .agg(min(struct(col("d2").as("d2"), col("cell").as("cell")))
          .as("m"))
        .select(col("vec_id"), col("m.cell").as("cell"))
      cent = ex.join(assign, "vec_id")
        .groupBy("cell", "dim")
        .agg(expr("sum(x) div count(1)").as("c"))
        .localCheckpoint()
    }
    (cent, assign.localCheckpoint())
  }

  /** ENGINE-SHARED INTEGER PRODUCT QUANTIZATION (q282/q283) — the
    * [[kMeansShared]] discipline applied to PQ (Jégou/Douze/Schmid,
    * TPAMI'11): the vector space splits into contiguous `subDim`-wide
    * subspaces (s = (dim−1) div subDim) and ONE relational Lloyd's
    * chain trains every subspace's `kSub`-cell codebook simultaneously
    * — the subspace id simply joins the grouping keys, so the whole
    * trainer is the q246 chain with one extra column:
    *
    *  - coordinates integer-quantize to e3 (the q154/q246 discipline);
    *  - init = the kSub seed vectors vec_id < kSub, each contributing
    *    its subvector to every subspace's codebook (the q230 seed
    *    rule, per subspace);
    *  - assignment = per (vec_id, subspace) argmin of the integer
    *    squared distance under the (d2, cell) total tie order;
    *  - update = per-(subspace, cell, dim) truncating-div mean, so
    *    codebooks stay integers round over round; a cell that captures
    *    no vectors in a subspace disappears (deterministic, same as
    *    kMeansShared).
    *
    * Returns (ex, cent, dist): the e3 coordinate stream
    * (vec_id, dim, s, x), the final codebooks (s, cell, dim, c), and
    * the ENCODE-side distance table (vec_id, s, cell, d2) against the
    * final codebooks — argmin over dist per (vec_id, s) IS the PQ code
    * assignment, and the same table restricted to query vectors is the
    * ADC lookup table (q283). All three are localCheckpoint'ed.
    *
    * Scale: each round is one broadcast(m·kSub·subDim codebook rows)
    * join + two partial-combining aggregates — the k-means-assignment
    * shuffle shape; dist is N·m·kSub slim rows. */
  def pqShared(embeddings: DataFrame, subDim: Int, kSub: Int,
      rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    require(subDim >= 1)
    val ex = embeddings.select(col("vec_id"),
      posexplode(col("embedding").cast("array<double>"))
        .as(Seq("d0", "xd")))
      .select(col("vec_id"), (col("d0") + 1).cast("long").as("dim"),
        expr(s"CAST(d0 AS BIGINT) div ${subDim}L").as("s"),
        floor(col("xd") * lit(1000.0) + lit(0.5)).cast("long").as("x"))
      .localCheckpoint()
    pqSharedEx(ex, kSub, rounds)
  }

  /** [[pqShared]] over a pre-built integer coordinate stream
    * (vec_id, dim, s, x) — the residual-PQ entry point (q293 trains
    * codebooks on x − centroid(cell(x)) residuals; Jégou TPAMI'11 §III):
    * the SAME seed rule (vec_id < kSub), rounds, truncating-div means
    * and (d2, cell) argmin, just over whatever integer stream the
    * caller derived. Returns (ex, cent, dist) as pqShared does. */
  def pqSharedEx(ex: DataFrame, kSub: Int, rounds: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    require(kSub >= 1 && rounds >= 1)
    var cent = ex.filter(col("vec_id") < kSub)
      .select(col("s"), col("vec_id").as("cell"), col("dim"),
        col("x").as("c"))
      .localCheckpoint()
    def distTo(c: DataFrame): DataFrame =
      ex.join(broadcast(c.select(col("cell"), col("dim"), col("c"))),
          "dim")
        .groupBy(col("vec_id"), col("s"), col("cell"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c")))
          .as("d2"))
    for (_ <- 0 until rounds) {
      // assign stays LAZY (round 17): the round's lineage is linear
      // (cent → distTo → assign → cent', each referenced once), so
      // the per-round cent checkpoint alone truncates the plan — the
      // assign materialization was a redundant job per round.
      val assign = distTo(cent).groupBy("vec_id", "s")
        .agg(min(struct(col("d2").as("d2"), col("cell").as("cell")))
          .as("m"))
        .select(col("vec_id"), col("s"), col("m.cell").as("cell"))
      cent = ex.join(assign, Seq("vec_id", "s"))
        .groupBy("s", "cell", "dim")
        .agg(expr("sum(x) div count(1)").as("c"))
        .localCheckpoint()
    }
    (ex, cent, distTo(cent).localCheckpoint())
  }

  /** CONFIG-KEYED [[pqSharedEx]] (round 17, guide §1.2/§2.4 — "one
    * pass instead of three"): trains EVERY sweep config's codebooks in
    * ONE trainer chain. `ex` carries a `cfg` column (the sweep key);
    * every grouping key, the seed filter (vec_id < kSubOf(cfg)) and
    * the broadcast codebook join gain `cfg`, so per config the chain
    * is EXACTLY [[pqSharedEx]] — same seed rule, same rounds, same
    * truncating-div means, same (d2, cell) argmin; configs are
    * disjoint groups that can never interact. Outputs therefore equal
    * the union of the per-config outputs (the q310/q316 gates verify
    * this hash-for-hash), but the sweep pays ONE set of checkpointed
    * jobs instead of |cfgs| sets — the sweeps were measured
    * JOB-COUNT-bound at sf0.1 (round-16 plan audit), so this is the
    * binding cost. At 100 TB the same fusion reads the training
    * sample once per round instead of once per config per round. */
  def pqSharedExCfg(ex: DataFrame, kSubOf: Map[Long, Long],
      rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    require(rounds >= 1 && kSubOf.nonEmpty)
    val spark = ex.sparkSession
    import spark.implicits._
    val ks = kSubOf.toSeq.sorted.toDF("cfg", "ksub")
    var cent = ex.join(broadcast(ks), "cfg")
      .filter(col("vec_id") < col("ksub"))
      .select(col("cfg"), col("s"), col("vec_id").as("cell"),
        col("dim"), col("x").as("c"))
      .localCheckpoint()
    def distTo(c: DataFrame): DataFrame =
      ex.join(broadcast(c.select(col("cfg"), col("cell"), col("dim"),
          col("c"))), Seq("cfg", "dim"))
        .groupBy(col("cfg"), col("vec_id"), col("s"), col("cell"))
        .agg(sum((col("x") - col("c")) * (col("x") - col("c")))
          .as("d2"))
    for (_ <- 0 until rounds) {
      // assign lazy — same linear-lineage argument as pqSharedEx
      val assign = distTo(cent).groupBy("cfg", "vec_id", "s")
        .agg(min(struct(col("d2").as("d2"), col("cell").as("cell")))
          .as("m"))
        .select(col("cfg"), col("vec_id"), col("s"),
          col("m.cell").as("cell"))
      cent = ex.join(assign, Seq("cfg", "vec_id", "s"))
        .groupBy("cfg", "s", "cell", "dim")
        .agg(expr("sum(x) div count(1)").as("c"))
        .localCheckpoint()
    }
    (ex, cent, distTo(cent).localCheckpoint())
  }

  /** Within-cluster sum of squared distance — Lloyd's monotone objective
    * (ClusteringSpec asserts non-increase across iterations). */
  def wcss(vectors: DataFrame, vecCol: String, cids: Array[Long],
      mat: Array[Array[Double]]): Double = {
    val spark = vectors.sparkSession
    NearestCentroidExpr.register(spark)
    graft.functions.DotProductExpr.register(spark)
    val v = vectors.select(col(vecCol).cast("array<double>").as("v"))
    val matLit = typedlit(mat.map(_.toSeq).toSeq)
    val c = element_at(matLit, col("cell").cast("int") + 1)
    v.withColumn("cell", assignCell(col("v"), cids, mat))
      // |v − c|² = v·v − 2 v·c + c·c
      .select((call_function("graft_dot", col("v"), col("v"))
        - lit(2.0) * call_function("graft_dot", col("v"), c)
        + call_function("graft_dot", c, c)).as("d2"))
      .agg(sum(col("d2")).as("s")).collect().head.getDouble(0)
  }
}
