package graft

import org.apache.spark.sql.functions._

import graft.Tables.load
import graft.operators.TextOps

/** Text operators: the fuzzy-match segment blocking must be lossless
  * (≡ the naive theta join, including under indels that shift
  * alignment), must plan as a hash join, and must actually prune
  * candidates on realistic variable name data. */
class TextOpsSpec extends SparkSpecBase {

  test("q57: segment-blocked fuzzy match ≡ naive theta join (lossless)") {
    val cust = load(spark, sf, "customer")
    val banded = TextOps.fuzzyMatchPairs(cust, "c_nationkey", "c_custkey",
        "c_name").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val a = cust.select(col("c_nationkey").cast("long").as("n1"),
      col("c_custkey").as("i1"), col("c_name").as("m1"))
    val naive = a.join(
        cust.select(col("c_nationkey").cast("long").as("n2"),
          col("c_custkey").as("i2"), col("c_name").as("m2")),
        col("n1") === col("n2") && col("i1") < col("i2"))
      .where(levenshtein(col("m1"), col("m2")) <= 2)
      .select(col("n1"), col("i1"), col("i2"),
        levenshtein(col("m1"), col("m2")).cast("long").as("d"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(banded == naive)
    assert(banded.nonEmpty) // fixture names do produce close pairs
  }

  test("q57: candidate generation is a hash join on (blk, l, seg)") {
    val plan = TextOps.q57FuzzyMatch(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-hash join:\n$plan")
  }

  test("q57: lossless under indels that shift segment alignment") {
    import spark.implicits._
    // Adversarial set: pure shifts (delete front + append back), nested
    // indels, substitutions at segment boundaries, length-varied rows.
    val rows = Seq(
      (1L, 1L, "abcdefghij"), (1L, 2L, "bcdefghijk"), // shift by 1
      (1L, 3L, "cdefghijkl"),                         // shift by 2 vs id 1
      (1L, 4L, "abXdefghij"), (1L, 5L, "abcdefgh"),   // sub, shorter
      (1L, 6L, "xxabcdefghij"), (1L, 7L, "abcdefghijyy"),
      (2L, 8L, "abcdefghij"), (2L, 9L, "zzzzzzzzzz"),
      (2L, 10L, "ab"), (2L, 11L, "ba"), (2L, 12L, "a")
    ).toDF("blk0", "id0", "nm")
    val got = TextOps.fuzzyMatchPairs(rows, "blk0", "id0", "nm", maxDist = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val naive = rows.as[(Long, Long, String)].collect()
    val want = (for {
      (b1, i1, n1) <- naive; (b2, i2, n2) <- naive
      if b1 == b2 && i1 < i2
      d = levenshteinRef(n1, n2) if d <= 2
    } yield (i1, i2, d.toLong)).toSet
    assert(got == want)
    assert(want.exists(_._3 == 2)) // shifts at the full distance covered
  }

  test("q57: segment join prunes candidates on diverse name data") {
    import spark.implicits._
    // Realistic variable-length diverse-prefix names: candidate pairs
    // must be far fewer than within-block pairs (the whole point of
    // blocking — VERDICT r3 item 1).
    val rng = new scala.util.Random(7)
    val surnames = Seq("smith", "jones", "garcia", "mueller", "tanaka",
      "okafor", "silva", "kowalski", "nguyen", "rossi")
    val rows = (1 to 400).map { i =>
      val base = surnames(rng.nextInt(surnames.length))
      val suffix = rng.alphanumeric.take(rng.nextInt(6)).mkString
      (1L, i.toLong, base + suffix)
    }.toDF("blk0", "id0", "nm")
    val cand = TextOps.fuzzyMatchCandidates(rows, "blk0", "id0", "nm", 2)
      .select("id_a", "id_b").distinct().count()
    val allPairs = 400L * 399 / 2
    assert(cand < allPairs / 4,
      s"segment blocking pruned nothing: $cand of $allPairs pairs")
    // and it is still lossless on this fixture
    val got = TextOps.fuzzyMatchPairs(rows, "blk0", "id0", "nm", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val naive = rows.as[(Long, Long, String)].collect()
    val want = (for {
      (_, i1, n1) <- naive; (_, i2, n2) <- naive
      if i1 < i2 && levenshteinRef(n1, n2) <= 2
    } yield (i1, i2)).toSet
    assert(got == want)
  }

  /** Textbook DP reference, independent of both engines. */
  private def levenshteinRef(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("charBagSig soundness theorem on random pairs: the bag lower " +
      "bound never exceeds the true edit distance (the q57 filter can " +
      "prune but never drop a true match)") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    def randStr(): String = {
      val alpha = "0123456789abc# "
      (0 until 1 + rng.nextInt(24))
        .map(_ => alpha(rng.nextInt(alpha.length))).mkString
    }
    // mix of independent pairs and edit-perturbed pairs (the adversarial
    // case: small true distance, filter must never claim more)
    val pairs = (1 to 150).map { _ => (randStr(), randStr()) } ++
      (1 to 150).map { _ =>
        val a = randStr()
        val b = new StringBuilder(a)
        (0 until rng.nextInt(4)).foreach { _ =>
          if (b.nonEmpty) {
            val p = rng.nextInt(b.length)
            rng.nextInt(3) match {
              case 0 => b.setCharAt(p, ('0' + rng.nextInt(10)).toChar)
              case 1 => b.deleteCharAt(p)
              case 2 => b.insert(p, ('0' + rng.nextInt(10)).toChar)
            }
          }
        }
        (a, b.toString)
      }
    val df = pairs.toDF("a", "b")
      .withColumn("sig_a", TextOps.charBagSig(col("a")))
      .withColumn("sig_b", TextOps.charBagSig(col("b")))
    val sigRows = df.collect()
    sigRows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (sa, sb) = (r.getLong(2), r.getLong(3))
      val bagDiff = (0 until 10).map { i =>
        math.abs(((sa >> (i * 6)) & 63L) - ((sb >> (i * 6)) & 63L))
      }.sum
      val dist = levenshteinRef(a, b)
      assert(bagDiff <= 2L * dist,
        s"""UNSOUND: bagDiff $bagDiff > 2·dist(${dist}) for "$a" vs "$b"""")
    }
  }

  test("q59: tf-idf scores match a hand-computed golden") {
    import spark.implicits._
    // 4 docs; "rare" appears in 1 doc, "common" in all 4.
    val docs = Seq(
      (1L, "common rare rare"), (2L, "common common x"),
      (3L, "common y y"), (4L, "common z")
    ).toDF("doc_id", "text")
    val out = TextOps.tfidfTopTerms(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // idf_scaled = (4*10000) div df: rare→40000, common→10000.
    // doc 1: rare tf=2 → 80000; common tf=1 → 10000.
    assert(out.take(2).toSeq == Seq(
      (1L, "rare", 80000L, 1L), (1L, "common", 10000L, 2L)))
    // every doc emits at most k rows, ranks start at 1
    val perDoc = out.groupBy(_._1)
    assert(perDoc.values.forall(rs =>
      rs.length <= 2 && rs.map(_._4).sorted.sameElements(1L to rs.length)))
    // doc 2: common tf=2 → 20000 beats x (tf=1, df=1 → 40000)? No:
    // x scores 40000 > common 20000 — rarity wins, pinning the formula.
    assert(out.filter(_._1 == 2L).head._2 == "x")
  }

  test("q79: vocab stats hand-computed on a planted corpus") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a a b"),      // tokens 3, types {a,b}, hapax {b}
      ("s1", "a c"),        // s1: tokens 5, types {a,b,c}, a=3 b=1 c=1
      ("s2", "x x x x")     // s2: tokens 4, 1 type, 0 hapax
    ).toDF("source", "text")
    val out = TextOps.vocabStats(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("s1", 5L, 3L, 2L, 6000L),   // ttr = 3*10000 div 5
      ("s2", 4L, 1L, 0L, 2500L)))
  }

  test("q80: a fixed phrase outranks a frequent-but-independent pair") {
    import spark.implicits._
    // "new york" always adjacent (5×); "the cat" co-occurs 5× but both
    // words are everywhere (the: 15, cat: 10).
    val phrase = Seq.fill(5)("pad new york pad")
    val indep = Seq.fill(5)("the cat the cat the") // "the cat" 10x? count:
    val docs = (phrase ++ indep).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextOps.collocations(docs, minCount = 5, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val byBigram = out.map(t => t._1 -> t).toMap
    // new york: n_ab=5, n_a=5, n_b=5 → lift 200000
    assert(byBigram("new york")._5 == 200000L)
    // the cat: n_ab=10, the=15, cat=10 → 10e6 div 150 = 66666
    assert(byBigram("the cat")._5 == 66666L)
    // ranking: the fixed phrase wins despite lower raw count
    assert(out.head._1 == "new york")
  }

  test("q95 winnowing: matches a driver-side replay and keeps the " +
      "shared-run guarantee") {
    import spark.implicits._
    val P = 1000000007L
    // two docs sharing a 7-word run (≥ w+k−1 = 6 ⇒ must share a
    // fingerprint), one unrelated doc, one 3-word doc (single partial
    // window)
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"$shared nine ten eleven twelve"),
      (3L, "completely different words with no overlap at all here"),
      (4L, "tiny doc here")
    ).toDF("doc_id", "text")
    val got = graft.operators.TextOps.winnowFingerprints(docs)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // independent replay of the published algorithm (k=3, w=4,
    // full windows, leftmost-min tiebreak via the packed key)
    def replay(text: String): Set[(Long, Long)] = {
      val ws = text.split(" ")
      val wh = ws.map(_.foldLeft(0L)((h, c) => (h * 31 + c.toLong) % P))
      val kl = (1 to ws.length - 2).map { i =>
        val g = (0 until 3).foldLeft(0L)((a, j) =>
          (a * 131 + wh(i - 1 + j)) % P)
        g * 16777216L + i
      }
      val nw = math.max(kl.length - 3, 1)
      (1 to nw).map(i => kl.slice(i - 1, i + 3).min).distinct
        .map(k => (k % 16777216L, k / 16777216L)).toSet
    }
    docs.collect().foreach { r =>
      assert(got(r.getLong(0)) == replay(r.getString(1)),
        s"doc ${r.getLong(0)}")
    }
    // the shared run yields a shared fingerprint VALUE across docs
    val f1 = got(1L).map(_._2); val f2 = got(2L).map(_._2)
    assert((f1 & f2).nonEmpty, "shared 7-word run must share a print")
    assert((got(3L).map(_._2) & f1).isEmpty, "unrelated doc shares none")
    // 3-word doc: exactly one gram, one partial window, one print
    assert(got(4L) == Set((1L, replay("tiny doc here").head._2)))
  }

  test("q116: Misra-Gries heavy hitters ≡ exact on the corpus — " +
      "approximation bounds state, never the answer") {
    val exact = TextOps.q116HeavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(exact.nonEmpty)
    val tokens = load(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
    val mg = TextOps.heavyHittersMG(tokens, "w", k = 400).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mg == exact)
  }

  test("q116: MG survives adversarial skew and small k (planted " +
      "fixture, k exactly den/num)") {
    import spark.implicits._
    // one dominant token (30%), one at the 1/4 boundary under
    // threshold 1/4, plus unique-tail noise
    val toks = (Seq.fill(30)("hot") ++ Seq.fill(24)("warm") ++
      (1 to 46).map(i => s"noise$i")).toDF("w")
    val got = TextOps.heavyHittersMG(toks, "w", k = 4,
      thresholdNum = 1, thresholdDen = 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // 100 tokens: hot=30 (30% > 25%) qualifies; warm=24 (24%) does not
    assert(got == Seq(("hot", 30L)))
  }

  test("q223 distribution drift == driver recomputation: floor-ppm " +
      "shares per half, TVD total row, counts conserve") {
    val docs = load(spark, sf, "documents")
      .select(col("doc_id").cast("long"), col("n_chars").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val h = docs.length / 2
    def hist(xs: Array[(Long, Long)]): Map[Long, Long] =
      xs.groupBy { case (_, nc) => math.min(nc / 100L, 9L) }
        .view.mapValues(_.length.toLong).toMap
    val (h1, h2) = (hist(docs.take(h)), hist(docs.drop(h)))
    val (t1, t2) = (h.toLong, (docs.length - h).toLong)
    val buckets = (h1.keySet ++ h2.keySet).toSeq.sorted
    val expect = buckets.map { b =>
      val (n1, n2) = (h1.getOrElse(b, 0L), h2.getOrElse(b, 0L))
      val (s1, s2) = (n1 * 1000000L / t1, n2 * 1000000L / t2)
      b -> (n1, n2, s1, s2, math.abs(s1 - s2))
    }.toMap
    val rows = TextOps.q223DistDrift(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    buckets.foreach(b => assert(rows(b) == expect(b), s"bucket $b"))
    // TOTAL row: counts conserve, d_ppm is the exact TVD
    val tot = rows(-1L)
    assert(tot._1 == t1 && tot._2 == t2)
    assert(tot._5 == expect.values.map(_._5).sum / 2L)
    // TVD is a [0, 1e6] metric
    assert(tot._5 >= 0L && tot._5 <= 1000000L)
  }

  test("q156 frequency spectrum == driver recomputation, and buckets " +
      "conserve the vocab and token mass") {
    val texts = load(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val counts = texts.flatMap(_.split(" ", -1))
      .groupBy(identity).map(_._2.length.toLong)
    val expect = counts.groupBy(c => math.min(c, 11L)).map {
      case (k, cs) => k -> (cs.size.toLong, cs.sum)
    }
    val got = graft.operators.TextOps.q156FreqSpectrum(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    assert(got.values.map(_._1).sum == counts.size.toLong)
    assert(got.values.map(_._2).sum == counts.sum)
  }

  test("q160 Simpson diversity == driver recomputation per source") {
    val docs = load(spark, sf, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expect = docs.groupBy(_._1).map { case (src, ds) =>
      val cs = ds.flatMap(_._2.split(" ", -1))
        .groupBy(identity).map(_._2.length.toLong)
      val t = cs.sum
      val sq = cs.map(c => c * c).sum
      src -> (t, ((t * t - sq) * 1000000L) / (t * t))
    }
    val got = graft.operators.TextOps.q160SimpsonDiversity(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    // diversity is a proper probability complement
    got.values.foreach { case (_, ppm) =>
      assert(ppm >= 0L && ppm < 1000000L)
    }
  }

  test("q145 BPE pairs == driver recomputation over the fixture vocab") {
    val texts = load(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val wc = texts.flatMap(_.split(" ", -1))
      .groupBy(identity).map { case (w, xs) => (w, xs.length.toLong) }
    val weights = collection.mutable.Map.empty[String, Long]
    wc.foreach { case (w, c) =>
      if (w.length >= 2)
        (0 until w.length - 1).foreach { i =>
          val p = w.substring(i, i + 2)
          weights(p) = weights.getOrElse(p, 0L) + c
        }
    }
    val expect = weights.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
    val got = TextOps.q145BpePairs(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("q147 inverted index: df / min / postings prefix goldens from " +
      "a driver recomputation") {
    val docs = load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val postings = docs.flatMap { case (id, t) =>
      t.split(" ", -1).distinct.map(w => (w, id))
    }.groupBy(_._1).map { case (w, xs) =>
      val ids = xs.map(_._2).distinct.sorted
      (w, (ids.length.toLong, ids.head,
        ids.take(5).mkString(",")))
    }
    val got = TextOps.q147InvertedIndex(spark, sf).collect()
      .map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got == postings)
  }

  test("q149 bigram surprisal: common words in improbable order score " +
      "higher than the same words in probable order") {
    import spark.implicits._
    // corpus: "a b" dominates; one doc reverses it. na(a)=11 for the
    // 10 "a b" docs + 1 "b a" doc: bigram (a,b) count 10, (b,a) count
    // 1; na(a)=11, na(b)=11. surp(a,b) = 11e6 div 10 = 1.1e6;
    // surp(b,a) = 11e6 div 1 = 11e6 — the reversed doc scores 10×.
    val docs = ((1 to 10).map(i => (i.toLong, "a b")) :+
      (99L, "b a")).toDF("doc_id", "text")
      .withColumn("lang", lit("x")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(3L))
    val tmp = java.nio.file.Files.createTempDirectory("q149").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q149BigramSurprisal(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got(99L) == 11000000L)
    assert(got(1L) == 1100000L)
    assert(got(99L) > got(1L))
  }

  test("q229 BPE training hand golden: vocab {aaab:2, ab:1, aaaa:1} — " +
      "greedy leftmost merge (aaaa -> [aa,aa], not [aa,a,a]), " +
      "lexicographic tie-break, and an exhausted round emits no row") {
    import spark.implicits._
    // Round 0: (a,a) = 2·2 + 3·1 = 7 beats (a,b) = 3 -> merge (a,a):
    //   aaab -> [aa,a,b]; ab -> [a,b]; aaaa -> [aa,aa] (even-offset
    //   rule: positions 1 and 3 merge, position 2 is consumed).
    // Round 1: (a,b) = 2+1 = 3 beats (aa,a) = 2 and (aa,aa) = 1.
    // Round 2: (aa,ab) = 2 beats (aa,aa) = 1.
    // Round 3: (aa,aa) = 1 is all that's left.
    // Round 4: no adjacent pairs anywhere -> NO row (argmax of empty).
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaaa"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeTrainState(docs, rounds = 5)._1.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, "a", "a", 7L),
      (1L, "a", "b", 3L),
      (2L, "aa", "ab", 2L),
      (3L, "aa", "aa", 1L)))
  }

  test("q247 BM25 ≡ a full driver-side integer replay on a structured " +
      "corpus (df-rank query selection, fixed-point div chain, " +
      "(score desc, doc_id) top-k — pinned independent of DuckDB)") {
    import spark.implicits._
    // term tj appears in doc i iff i % j == 0 (df(tj) = 30 div j,
    // distinct dfs → deterministic ranks); extra t1 repeats vary tf/dl
    val corpus = (1 to 30).map { i =>
      val words = (1 to 20).filter(j => i % j == 0).map(j => s"t$j") ++
        Seq.fill(i % 3)("t1")
      (i.toLong, words.mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("q247").toString
    corpus.toDF("doc_id", "text")
      .withColumn("lang", lit("x")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(1L))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.q247Bm25(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    // driver-side replay with the identical integer ops
    def fdiv(a: Long, b: Long): Long = a / b // truncating, both engines
    val toks = corpus.flatMap { case (id, t) =>
      t.split(" ").map(w => (id, w)) }
    val tf = toks.groupBy(identity).map { case ((id, w), v) =>
      (id, w, v.size.toLong) }.toSeq
    val df = tf.groupBy(_._2).map { case (w, v) => w -> v.size.toLong }
    val qterms = df.toSeq.sortBy { case (w, d) => (-d, w) }
      .slice(10, 15).map(_._1).toSet
    val dl = toks.groupBy(_._1).map { case (id, v) => id -> v.size.toLong }
    val tT = dl.values.sum; val dD = dl.size.toLong
    val avgdlE3 = fdiv(tT * 1000, dD)
    val scores = tf.filter(t => qterms(t._2))
      .map { case (id, w, f) =>
        val idfX = fdiv(dD * 1000000L, df(w))
        val ratioE3 = fdiv(dl(id) * 1000000L, avgdlE3)
        val normE3 = 250L + fdiv(750L * ratioE3, 1000L)
        val denE3 = f * 1000L + fdiv(1200L * normE3, 1000L)
        (id, fdiv(idfX * fdiv(f * 2200L * 1000000L, denE3), 1000000L))
      }
      .groupBy(_._1).map { case (id, v) =>
        (id, v.map(_._2).sum, v.size.toLong) }.toSeq
    val want = scores.sortBy { case (id, s, _) => (-s, id) }.take(20)
      .zipWithIndex
      .map { case ((id, s, n), i) => (i + 1L, id, s, n) }
    assert(got == want, s"got $got\nwant $want")
    assert(got.nonEmpty && got.size == want.size && qterms.size == 5)
  }

  test("bpeTrainBatched(k = 1) ≡ bpeTrain bit-for-bit (hand corpus AND " +
      "real documents slice — the batched(1) fidelity contract)") {
    import spark.implicits._
    val hand = Seq((1L, "aaab aaab ab"), (2L, "aaaa"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(rows(TextOps.bpeTrainBatched(hand, rounds = 5, k = 1)) ==
      rows(TextOps.bpeTrainState(hand, rounds = 5)._1))
    val real = graft.Tables.load(spark, sf, "documents").limit(200)
    assert(rows(TextOps.bpeTrainBatched(real, rounds = 4, k = 1)) ==
      rows(TextOps.bpeTrainState(real, rounds = 4)._1))
  }

  test("bpeTrainBatched planted-conflict golden: rank-2 pair sharing a " +
      "symbol with rank 1 is SKIPPED and re-won next round at its " +
      "recounted weight — never applied stale") {
    import spark.implicits._
    // vocab {aab:3, ab:2}: round-0 candidates (a,b) = 5 (rank 1) and
    // (a,a) = 3 (rank 2, shares 'a' → skipped). Applying (a,b):
    // aab → [a,ab], ab → [ab]; round-1 top pair is (a,ab) = 3 — the
    // deferred region re-counted, NOT the stale (a,a).
    val docs = Seq((1L, "aab aab aab ab ab")).toDF("doc_id", "text")
    val got = TextOps.bpeTrainBatched(docs, rounds = 2, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq((0L, "a", "b", 5L), (1L, "a", "ab", 3L)), s"$got")
    assert(!got.exists(m => m._2 == "a" && m._3 == "a"),
      "stale conflicting (a,a) must never be applied in the batch")
  }

  test("bpeTrainBatched disjoint-accept golden: two symbol-disjoint " +
      "top pairs merge in ONE round (k = 2, rounds = 1 → 2 merges)") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab ab cd cd")).toDF("doc_id", "text")
    val got = TextOps.bpeTrainBatched(docs, rounds = 1, k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got == Seq((0L, "a", "b", 3L), (1L, "c", "d", 2L)), s"$got")
    // sequential needs two rounds for the same table
    assert(TextOps.bpeTrainState(docs, rounds = 1)._1.count() == 1L)
  }

  test("bpeTrainStateBatched ≡ bpeTrainState on ALL THREE components " +
      "(merge table, final segmentation state, per-ordinal totals) — " +
      "the round-12 memo-boundary equivalence: hand tie/conflict " +
      "corpus AND a real documents slice") {
    import spark.implicits._
    def mergeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    def stateRows(df: org.apache.spark.sql.DataFrame) = df
      .select("w", "c", "pos", "sym").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sorted.toSeq
    // hand corpus: conflicts (a,a)/(a,b) share 'a', plus a disjoint
    // (c,d) — exercises the stop-at-first-conflict AND the strict
    // boundary-weight rule
    val hand = Seq((1L, "aaab aaab ab cd cd cd")).toDF("doc_id", "text")
    val seqH = TextOps.bpeTrainState(hand, rounds = 4)
    val batH = TextOps.bpeTrainStateBatched(hand, merges = 4, k = 3)
    assert(mergeRows(batH._1) == mergeRows(seqH._1))
    assert(stateRows(batH._2) == stateRows(seqH._2))
    assert(batH._3 == seqH._3, s"${batH._3} vs ${seqH._3}")
    val real = graft.Tables.load(spark, sf, "documents").limit(150)
    val seqR = TextOps.bpeTrainState(real, rounds = 6)
    val batR = TextOps.bpeTrainStateBatched(real, merges = 6, k = 4)
    assert(mergeRows(batR._1) == mergeRows(seqR._1))
    assert(stateRows(batR._2) == stateRows(seqR._2))
    assert(batR._3 == seqR._3, s"${batR._3} vs ${seqR._3}")
  }

  test("bpeEncodeState: encoder ∘ merge-table = trainer state (seen " +
      "words reproduce their training segmentation exactly), and an " +
      "UNSEEN word segments by the same leftmost-greedy rule (hand " +
      "golden: 'aabaa' under the {aaab,ab,aaaa} merges → 3 tokens)") {
    import spark.implicits._
    val hand = Seq((1L, "aaab aaab ab"), (2L, "aaaa"))
      .toDF("doc_id", "text")
    val (mergeDf, finalState, _) = TextOps.bpeTrainState(hand, rounds = 5)
    val merges = mergeDf.orderBy("merge_round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    def segCounts(st: org.apache.spark.sql.DataFrame) =
      st.groupBy("w").count().collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(segCounts(TextOps.bpeEncodeState(hand, merges)) ==
      segCounts(finalState))
    // unseen word: a a b a a → (a,a) merges positions 1 and 4 →
    // [aa, b, aa]; no later merge applies → 3 tokens
    val unseen = Seq((9L, "aabaa")).toDF("doc_id", "text")
    val got = segCounts(TextOps.bpeEncodeState(unseen, merges))
    assert(got == Map("aabaa" -> 3L), s"$got")
  }

  test("q238 curve golden: per-round token totals on the q229 vocab — " +
      "monotone non-increasing, round 0 = weighted character count") {
    import spark.implicits._
    val docs = Seq((1L, "aaab aaab ab"), (2L, "aaaa"))
      .toDF("doc_id", "text")
    val (_, _, totals) = TextOps.bpeTrainState(docs, rounds = 5)
    // chars: aaab·2 (8) + ab·1 (2) + aaaa·1 (4) = 14
    // r1 merge (a,a): aaab -> 3 syms ·2, ab 2, aaaa -> 2 = 10
    // r2 merge (a,b): aaab -> [aa,ab] ·2, ab -> [ab] = 7
    // r3 merge (aa,ab): aaab -> [aaab] ·2 = 5
    // r4 merge (aa,aa): aaaa -> [aaaa] = 4
    // r5 nothing mergeable = 4
    assert(totals == Seq((0L, 14L), (1L, 10L), (2L, 7L), (3L, 5L),
      (4L, 4L), (5L, 4L)))
    totals.sliding(2).foreach {
      case Seq(a, b) => assert(b._2 <= a._2)
      case _ => ()
    }
  }

  // ------------------------------------- q304 unigram-LM tokenizer

  test("uniStateOf ≡ an INDEPENDENT brute-force Viterbi replay on a " +
      "planted corpus: vocab re-derived by plain-Scala counting, " +
      "every segmentation enumerated, lexicographic (fewest pieces, " +
      "max Σfreq) optimum compared word by word") {
    import spark.implicits._
    val texts = Seq(
      "ababab cd ababab", "abab cd xyz", "ababab q",
      "cdcd abab xyz", "z ababab")
    val docs = texts.toDF("text")
    val got = TextOps.uniStateOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(4), r.getLong(5))).toMap
    // independent replay ---------------------------------------
    val words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
    val wc = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val eligible = wc.keys.filter(w => w.length >= 1 && w.length <= 16)
    // piece frequencies: every substring of length 1..6, weighted
    val freq = scala.collection.mutable.Map.empty[String, Long]
    for ((w, c) <- wc; i <- 0 until w.length;
        l <- 1 to math.min(6, w.length - i))
      freq(w.substring(i, i + l)) =
        freq.getOrElse(w.substring(i, i + l), 0L) + c
    val singles = freq.filter(_._1.length == 1)
    val rankedMulti = freq.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, f) => (-f, p) }
    def best(w: String, vocab: Map[String, Long]): (Long, Long) = {
      // enumerate all segmentations (planted words are short)
      def go(i: Int): Seq[(Long, Long)] =
        if (i == w.length) Seq((0L, 0L))
        else (1 to math.min(6, w.length - i)).flatMap { l =>
          val p = w.substring(i, i + l)
          vocab.get(p).toSeq.flatMap { f =>
            go(i + l).map { case (n, fs) => (n + 1, fs + f) } }
        }
      go(0).minBy { case (n, fs) => (n, -fs) }
    }
    val want = (for {
      kb <- TextOps.uniBudgets
      vocab = (singles ++ rankedMulti.take(kb.toInt)).toMap
      w <- eligible
    } yield (kb, w) -> best(w, vocab)).toMap
    assert(got == want, s"got $got\nwant $want")
    // structural bounds: 1 ≤ n ≤ len (single-char coverage
    // guarantees reachability), n ≥ ceil(len/6); and the q307
    // direction: budgets nest, so n is non-increasing in kb per word
    got.foreach { case ((_, w), (n, _)) =>
      assert(n >= 1 && n <= w.length && n >= (w.length + 5) / 6, w) }
    for (w <- eligible; Seq(k1, k2) <- TextOps.uniBudgets.sliding(2))
      assert(got((k2, w))._1 <= got((k1, w))._1, s"$w: $k1 -> $k2")
  }

  test("q307 vocab-budget curve: fertility non-increasing in budget " +
      "(nested vocab prefixes) and the kb=500 anchor ≡ q304's " +
      "corpus totals") {
    val rows = TextOps.q307UnigramVocabCurve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == TextOps.uniBudgets)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._3 <= a._3 && b._4 <= a._4, s"$a -> $b")
      case _ => ()
    }
    val q304tot = TextOps.q304UnigramEncode(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    val anchor = rows.last
    assert((anchor._2, anchor._3) == q304tot)
  }

  test("q304b compares all three tokenizers over the SAME corpus-" +
      "weighted word population (n_words equal across rows) and the " +
      "structural order holds: wordpiece pieces ≥ unigram pieces " +
      "(greedy is a valid segmentation, Viterbi is the minimum)") {
    val rows = TextOps.q304bTokenizerCompare(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq.sorted ==
      Seq("bpe", "unigram", "wordpiece"))
    assert(rows.map(_._2).distinct.length == 1,
      s"populations differ: ${rows.toSeq}")
    rows.foreach { case (t, nw, np) => assert(np >= nw, t) }
    val byTok = rows.map(r => r._1 -> r._3).toMap
    assert(byTok("wordpiece") >= byTok("unigram"),
      s"greedy beat the optimum: $byTok")
  }

  // ------------------------------------- q312 WordPiece encoder

  test("q312 greedy mechanics golden: with every substring in vocab, " +
      "leftmost-longest walks 6-then-remainder (abcdefgh -> 2 pieces) " +
      "and short words stay whole") {
    import spark.implicits._
    val docs = Seq("abcdefgh xy xy", "abcdefgh q").toDF("text")
    val got = TextOps.wordPieceOf(TextOps.uniEdgesOf(docs))
      .filter(col("kb") === 500L).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(4))).toMap
    assert(got == Map("abcdefgh" -> (2L, 2L), "xy" -> (2L, 1L),
      "q" -> (1L, 1L)), s"got $got")
  }

  test("q312 greedy STRICTLY worse golden: 497 high-freq fillers pin " +
      "the kb=500 vocab boundary between 'abb' (in, rank 500) and " +
      "'bb' (out, rank 501), so greedy on 'aabb' takes aa|b|b = 3 " +
      "pieces while Viterbi finds a|abb = 2 — the inequality the " +
      "corpus-wide pin rests on, witnessed strictly") {
    import spark.implicits._
    val letters = "cdefghijklmnopqrstuvwxy"
    val fillers = (for (x <- letters; y <- letters)
      yield s"$x$y").take(497)
    assert(fillers.length == 497 && fillers.distinct.length == 497)
    val words = fillers.flatMap(w => Seq.fill(50)(w)) ++
      Seq.fill(3)("aa") ++ Seq.fill(2)("abb") ++ Seq("aabb")
    val docs = Seq(words.mkString(" ")).toDF("text")
    val head = TextOps.uniEdgesOf(docs)
    val wp = TextOps.wordPieceOf(head)
      .filter(col("kb") === 500L).collect()
      .map(r => r.getString(1) -> r.getLong(4)).toMap
    val uni = TextOps.uniStateOf(docs)
      .filter(col("kb") === 500L).collect()
      .map(r => r.getString(1) -> r.getLong(4)).toMap
    assert(wp("aabb") == 3L, s"greedy: ${wp("aabb")}")
    assert(uni("aabb") == 2L, s"viterbi: ${uni("aabb")}")
    assert(wp("abb") == 1L && wp("aa") == 1L)
  }

  test("q312/q315 corpus-wide inequality: wordpiece pieces ≥ unigram " +
      "pieces for EVERY fixture word at EVERY budget (greedy never " +
      "beats the lexicographic optimum — the structural pin; the " +
      "greedy curve itself has no monotonicity guarantee, which is " +
      "why q315 measures it)") {
    val uni = TextOps.uniState(spark, sf)
      .select(col("kb"), col("w"), col("n").as("un"))
    val wp = TextOps.wpState(spark, sf)
      .select(col("kb"), col("w"), col("n").as("wn"))
    val bad = wp.join(uni, Seq("kb", "w"))
      .filter(col("wn") < col("un")).count()
    assert(bad == 0L, s"$bad (kb, word) rows where greedy beat the " +
      "optimum")
    // and the q315 totals anchor: the kb=500 row ≡ q312's totals
    val curve = TextOps.q315WordpieceVocabCurve(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val q312tot = TextOps.q312WordpieceEncode(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
      .reduce((x, y) => (x._1 + y._1, x._2 + y._2))
    assert(curve(500L) == q312tot)
  }
}
