package graft

import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.functions.VectorOps
import graft.operators.Similarity

/** Similarity search: brute-force correctness against a scalar
  * recomputation, and LSH recall against the exact baseline. */
class SimilaritySpec extends SparkSpecBase {

  private lazy val emb = load(spark, sf, "embeddings")

  test("cosine matches scalar recomputation") {
    val two = emb.filter(col("vec_id") < 2)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
      .toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val expected = cos(two(0L), two(1L))
    val got = emb.filter(col("vec_id") === 0).as("a")
      .crossJoin(emb.filter(col("vec_id") === 1).as("b"))
      .select(VectorOps.cosine(
        VectorOps.asDouble(col("a.embedding")),
        VectorOps.asDouble(col("b.embedding"))).as("c"))
      .collect().head.getDouble(0)
    assert(math.abs(got - expected) < 1e-9)
  }

  test("brute-force knn returns k ranked neighbors per query") {
    val rows = Similarity.q34aKnnBrute(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(byQ.values.forall(_.length == 10))
    // ranks are 1..10 and cosine non-increasing within each query
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).sameElements(1L to 10L))
      val cs = sorted.map(_.getDouble(3))
      assert(cs.sliding(2).forall(p => p(0) >= p(1)))
    }
  }

  test("IVF knn: k ranked results per query from the query's cell") {
    val rows = Similarity.q34cKnnIvf(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).sameElements(1L to g.length.toLong))
      val cs = sorted.map(_.getDouble(3))
      assert(cs.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // results are a subset of what brute force could produce (valid ids)
    assert(rows.forall(_.getLong(2) < 1000000))
  }

  test("IVF nprobe: more probed cells never lowers recall vs brute force") {
    val brute = Similarity.q34aKnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(probes: Int): Double = {
      val got = Similarity.knnIvf(emb, emb.filter(col("vec_id") < 5),
        k = 10, probes = probes).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      brute.count(got.contains).toDouble / brute.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    val r4 = recall(4)
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
    assert(r4 >= r2, s"nprobe=4 recall $r4 < nprobe=2 recall $r2")
    // probing a quarter of 16 cells must find a decent share of true
    // neighbors on the fixture
    assert(r4 > 0.2, s"nprobe=4 recall $r4")
  }

  test("hardNegativesAnn: full probe ≡ brute bit-identical; partial " +
      "probes are recall-monotone with a useful floor") {
    val brute = Similarity.hardNegatives(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    def ann(probes: Int): Set[(Long, Long, Long)] =
      Similarity.hardNegativesAnn(emb, cells = 16, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    // probes = cells ⟹ candidate set = the brute pair set ⟹ identical
    assert(ann(16) == brute)
    def recall(probes: Int): Double =
      brute.count(ann(probes).contains).toDouble / brute.size
    val r1 = recall(1)
    val r2 = recall(2)
    val r4 = recall(4)
    // candidate supersets preserve a found true argmax (min-struct tie
    // order), so recall is monotone by construction — pin it
    assert(r2 >= r1, s"probes=2 recall $r2 < probes=1 recall $r1")
    assert(r4 >= r2, s"probes=4 recall $r4 < probes=2 recall $r2")
    assert(r4 > 0.2, s"probes=4 recall $r4 — shortlist too lossy")
  }

  test("quantize: codes in [0,255], dequantization error ≤ scale/2") {
    val rows = Similarity.quantize(emb.limit(20))
      .select("e", "mn", "scale", "codes").collect()
    rows.foreach { r =>
      val e = r.getSeq[Double](0)
      val mn = r.getDouble(1)
      val scale = r.getDouble(2)
      val codes = r.getSeq[Long](3)
      assert(codes.forall(c => c >= 0 && c <= 255))
      e.zip(codes).foreach { case (x, c) =>
        val recon = mn + c * scale
        assert(math.abs(recon - x) <= scale / 2 + 1e-12,
          s"x=$x code=$c recon=$recon scale=$scale")
      }
    }
  }

  test("LSH knn recall vs brute force is useful (same-bucket candidates)") {
    val brute = Similarity.q34aKnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.q34bKnnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(lsh.contains).toDouble / brute.size
    // random 64-d vectors scatter across 16 buckets; exact-neighbor recall
    // is necessarily partial — assert it beats chance and stays deterministic
    assert(recall > 0.02, s"recall $recall")
    assert(lsh.nonEmpty)
  }

  test("shared-hyperplane near-dup (q33d round-10 form): verified " +
      "pairs ⊆ exact cos_e6 set; planted scaled copies found") {
    import graft.operators.Dedup
    val emb = load(spark, sf, "embeddings")
    val withDups = Dedup.embeddingsWithNearDups(emb)
    val shared = Dedup.embeddingNearDupPairsShared(withDups)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shared.nonEmpty)
    val exact = Similarity.cosinePairsExact(withDups,
        thresholdE6 = 950000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(shared.subsetOf(exact),
      s"LSH pairs outside exact set: ${shared.diff(exact).take(5)}")
    val n = emb.count()
    val found = (0L until n).count(i =>
      shared.contains((i, i + Dedup.NearDupIdOffset)))
    assert(found.toDouble / n > 0.5, s"planted recall $found/$n")
  }

  test("q92: LSH near-dup pairs are contained in the exact cosine " +
      "pair set at the same threshold") {
    val vecs = load(spark, sf, "embeddings")
    val exact = Similarity.cosinePairsExact(vecs, thresholdE6 = 350000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // raw cos ≥ 0.35 ⟹ floor(cos·1e6+0.5) ≥ 350000, so every
    // LSH-verified pair must appear in the exact set (recall-1 baseline)
    val lsh = graft.operators.Dedup.embeddingNearDupPairs(
        vecs, planes = 4, threshold = 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH pairs missing from exact: " +
      s"${lsh.diff(exact).take(5)}")
    // and the exact set agrees with a per-pair scalar recomputation
    val byId = vecs.collect().map(r => r.getLong(0) ->
      r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    exact.take(50).foreach { case (a, b) =>
      val (va, vb) = (byId(a), byId(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(va.map(x => x * x).sum) *
        math.sqrt(vb.map(x => x * x).sum))
      assert(cos >= 0.3499, s"pair ($a,$b) cos=$cos below threshold")
    }
  }

  test("q154 dispersion identity == brute-force pairwise sum on " +
      "planted vectors (incl. a singleton label)") {
    import spark.implicits._
    val data = Seq(
      (1L, Seq(1.0f, 0.0f, 2.5f), 0),
      (2L, Seq(0.0f, 1.0f, -1.5f), 0),
      (3L, Seq(2.0f, 2.0f, 0.0f), 0),
      (4L, Seq(-1.0f, 0.5f, 0.25f), 1),
      (5L, Seq(1.0f, -0.5f, 3.0f), 1),
      (6L, Seq(9.0f, 9.0f, 9.0f), 7)) // singleton label
    val df = data.toDF("vec_id", "embedding", "label")
    val got = Similarity.embedDispersion(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * 1000 + 0.5).toLong)
    data.groupBy(_._3).foreach { case (label, vs) =>
      val qs = vs.map(v => quant(v._2))
      val brute = (for {
        i <- qs.indices; j <- (i + 1) until qs.size
      } yield qs(i).zip(qs(j)).map { case (a, b) =>
        (a - b) * (a - b)
      }.sum).sum
      val n = qs.size.toLong
      val (gn, gd, gm) = got(label.toLong)
      assert(gn == n)
      assert(gd == brute, s"label $label disp $gd != brute $brute")
      assert(gm == (if (n > 1) brute / (n * (n - 1) / 2) else 0L))
    }
  }

  test("q230 semantic dedup: within-cell duplicate dropped, CROSS-CELL " +
      "near-identical pair survives (candidates are cell-bounded — the " +
      "SemDeDup recall trade), and the pair join is never a cartesian") {
    import spark.implicits._
    // seeds 0=[1,0,0,0], 1=[0,1,0,0]; 2≡3 both in cell 0 (cos=1 → 3
    // drops); 4=[.6,.59,0,0]→cell 0 vs 5=[.59,.6,0,0]→cell 1 have
    // cos≈0.99986 ≥ threshold but NEVER meet: different cells.
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)), (3L, Seq(0.9f, 0.1f, 0f, 0f)),
      (4L, Seq(0.6f, 0.59f, 0f, 0f)), (5L, Seq(0.59f, 0.6f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val dedup = Similarity.semanticDedup(vecs, k = 2,
      thresholdE6 = 999000L)
    assert(!dedup.queryExecution.executedPlan.toString
      .contains("CartesianProduct"),
      "within-cell pair join must be an equi-join on the cell key")
    val survivors = dedup.collect().map(_.getLong(0)).toSeq
    assert(survivors == Seq(0L, 1L, 2L, 4L, 5L),
      s"got $survivors — 3 (within-cell dup) must drop, 4/5 " +
        "(cross-cell near-dup) must both survive")
  }

  test("q251 principal direction hand golden: planted anisotropic set " +
      "— the dominant axis converges to ±1e6, the weaker axis decays " +
      "geometrically per power round, the empty axis is 0") {
    import spark.implicits._
    // e3: (0,±3000,0) ×2 and (±1000,0,0) ×2; means 0; S = diag(2e6,
    // 1.8e7, 0) → sn = diag(111111, 1e6, 0); v0 = 1e6 each.
    // v1 = (111111, 1e6, 0); v2 = (12345, 1e6, 0)
    //   [111111² = 12,345,654,321 → ·1e6 // 1e12];
    // v3 = (1371, 1e6, 0) [111111·12345 = 1,371,665,295].
    val vecs = Seq(
      (0L, Seq(0f, 3f, 0f)), (1L, Seq(0f, -3f, 0f)),
      (2L, Seq(1f, 0f, 0f)), (3L, Seq(-1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.principalDirection(vecs, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1371L, 2L -> 1000000L, 3L -> 0L), s"$got")
  }

  test("q251 GramAggregator ≡ driver-side exact outer-product sums on " +
      "random vectors, and the Gram stage plans WITHOUT a Generate " +
      "(the N·d² posexplode machinery is gone — round 12)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val data = (0L until 40L).map(id =>
      (id, Seq.fill(6)((rnd.nextInt(7000) - 3500).toFloat / 1000f)))
    val vecs = data.toDF("vec_id", "embedding")
    // driver-side truth: e3-quantize, center by truncating-div means,
    // then exact full Gram sums
    val q = data.map(_._2.map(x => math.floor(x * 1000.0 + 0.5).toLong))
    val n = q.size
    val d = 6
    val means = (0 until d).map(j => q.map(_(j)).sum / n)
    val cent = q.map(v => v.zip(means).map { case (x, m) => x - m })
    val want = (for {
      i <- 0 until d; j <- 0 until d
    } yield ((i + 1L, j + 1L),
      cent.map(v => v(i) * v(j)).sum)).toMap
    // the operator's internal s frame is pre-normalization; recompute
    // it through the public path by checking sn·(mx div 1e6) bounds is
    // indirect — instead drive the aggregator directly on the centered
    // frame the operator builds
    val gram = org.apache.spark.sql.functions.udaf(
      new graft.functions.GramAggregator)
    val centDf = cent.map(v => Tuple1(v)).toDF("ca")
    val got = centDf.agg(gram($"ca").as("g"))
      .select(org.apache.spark.sql.functions.explode($"g").as("e"))
      .select($"e._1", $"e._2", $"e._3").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == want, s"gram mismatch: ${got.toSeq.sortBy(_._1).take(5)}")
    // plan shape: the Gram stage is a typed aggregate over the raw
    // centered arrays — NO Generate feeds it (the round-11 form
    // posexploded N·d² rows into the partial agg)
    val aggPlan = centDf.agg(gram($"ca")).queryExecution
      .executedPlan.toString
    assert(aggPlan.contains("gramaggregator") && !aggPlan.contains("Generate"),
      aggPlan.take(800))
    // end-to-end on the same vectors still converges (golden covers
    // exact values; this pins the public path runs on the new stage)
    val v = Similarity.principalDirection(vecs, rounds = 1).collect()
    assert(v.length == d && v.map(_.getLong(1)).exists(_ != 0L))
  }

  test("q270 IVF probe sweep: recall is MONOTONE non-decreasing in " +
      "nprobe per query (nested candidate sets), hits 10⁶ at full " +
      "probe (8 = all cells), and n_brute is 10 everywhere") {
    val rows = Similarity.q270IvfProbeSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4)))
    assert(rows.nonEmpty && rows.forall(_._3 == 10L))
    rows.groupBy(_._2).foreach { case (qid, rs) =>
      val byProbe = rs.sortBy(_._1).map(_._4)
      assert(byProbe.zip(byProbe.tail).forall { case (a, b) => a <= b },
        s"recall not monotone for qid $qid: ${byProbe.toSeq}")
      assert(byProbe.last == 1000000L,
        s"full probe must be exact for qid $qid: ${byProbe.toSeq}")
    }
  }

  test("q264 int8 quantization audit hand golden: exact truncating " +
      "quantize/dequant errors, negative coordinates included") {
    import spark.implicits._
    // label 0, vec (1.0, 0.5): x = (1e6, 5e5), mx = 1e6;
    //   q = (127, 63); deq = (1e6, 63e6 // 127 = 496062);
    //   err = (0, 3938) → sum 3938, mean 3938 // 2 = 1969, max 3938
    // label 1, vec (-0.5, 0.25): x = (-5e5, 25e4), mx = 5e5;
    //   q = (-127, 63); deq = (-5e5, 31.5e6 // 127 = 248031);
    //   err = (0, 1969) → sum 1969, mean 984, max 1969
    val tmp = java.nio.file.Files.createTempDirectory("q264").toString
    Seq((0L, 0L, Seq(1.0f, 0.5f)), (1L, 1L, Seq(-0.5f, 0.25f)))
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Similarity.q264QuantAudit(spark, tmp).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got(0L) == ((1L, 2L, 3938L, 1969L, 3938L)), s"$got")
    assert(got(1L) == ((1L, 2L, 1969L, 984L, 1969L)), s"$got")
  }

  test("q299 MMR: rank-1 pick is the pure relevance argmax, ranks " +
      "are 1..5 distinct docs, and the selected set is MEASURABLY " +
      "more diverse (lower mean pair-sim) than top-5-by-relevance") {
    val rows = Similarity.queries("q299_mmr_rerank")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == (1L to 5L))
    assert(rows.map(_._2).distinct.length == 5)
    // rank 1 = max rel (ties by doc_id): no other candidate may have
    // a larger rel than the first pick's
    val r1 = rows.head
    assert(rows.tail.forall(r => r._3 < r1._3 ||
      (r._3 == r1._3 && r._2 > r1._2)), s"${rows.toSeq}")
    assert(r1._4 == 0L && r1._5 == 7L * r1._3)
    // diversity: mean pair-sim of the MMR set vs the pure-relevance
    // top-5 (the first 5 candidates by (rel desc, doc_id))
    import graft.functions.VectorOps.{asDouble, cosinePrenormed}
    graft.functions.DotProductExpr.register(spark)
    val vecs = load(spark, sf, "embeddings")
    val q0 = vecs.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding")).as("qv"))
      .withColumn("nq", sqrt(call_function("graft_dot",
        col("qv"), col("qv"))))
    val byRel = vecs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", sqrt(call_function("graft_dot",
        col("v"), col("v"))))
      .crossJoin(broadcast(q0)).filter(col("vec_id") =!= 0)
      .withColumn("rel", floor(cosinePrenormed(
          call_function("graft_dot", col("v"), col("qv")),
          col("nv"), col("nq")) * lit(1e6) + lit(0.5)).cast("long"))
      .orderBy(col("rel").desc, col("vec_id")).limit(5)
      .select("vec_id", "v", "nv").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getDouble(2)))
    val mmrIds = rows.map(_._2).toSet
    val mmrVecs = vecs
      .filter(col("vec_id").isin(mmrIds.toSeq: _*))
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nv", sqrt(call_function("graft_dot",
        col("v"), col("v"))))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getDouble(2)))
    def meanPairSim(vs: Array[(Long, Array[Double], Double)]): Double = {
      val ps = for {
        a <- vs; b <- vs if a._1 < b._1
      } yield a._2.zip(b._2).map { case (x, y) => x * y }.sum /
        (a._3 * b._3)
      ps.sum / ps.length
    }
    val mmrSim = meanPairSim(mmrVecs)
    val relSim = meanPairSim(byRel)
    assert(mmrSim < relSim,
      s"MMR set not more diverse: $mmrSim !< $relSim")
  }
}
