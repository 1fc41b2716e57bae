package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Triangle census (q91): hand-built goldens where every census number
  * is checkable on paper, orientation-independence against a naive
  * id-oriented count, and the co-supply edge builder on a planted
  * bipartite table.
  */
class GraphSpec extends SparkSpecBase {

  private def edgeDF(es: (Long, Long)*) = {
    import spark.implicits._
    es.toDF("u", "v")
  }

  test("star-CC round bound: a 10^4-node chain (the q142 fuzzy " +
      "digit-chain shape at scale) converges within ~2·log2(n) rounds " +
      "— a regression to propagation-linear behavior trips the " +
      "maxIter guard by name (round-7 verdict item 7)") {
    import spark.implicits._
    // Path graph 1..10000: diameter 9999. Kiveris large-star/small-star
    // needs O(log n) rounds (log2(10^4) ≈ 13.3); maxIter = 28 is the
    // 2·log2(n) budget. Min-label propagation would need 9999 rounds —
    // any regression toward per-round-constant-progress contraction
    // fails connectedComponentsStar's named require, not a timeout.
    val n = 10000L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val got = graft.operators.Dedup
      .connectedComponentsStar(nodes, edges, maxIter = 28)
      .agg(count(lit(1)), sum(when(col("component") === 1L, 1L)))
      .collect().head
    assert(got.getLong(0) == n && got.getLong(1) == n)
  }

  test("whale-basket cap: capped pair enumeration is bit-identical to " +
      "uncapped on the fixture for cap in {2, 8, huge} (round-8 " +
      "verdict item 1 — the q102/q137 df-cap playbook applied to " +
      "basket enumeration)") {
    import spark.implicits._
    val bought = Seq(
      (1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L), (1L, 50L),
      (2L, 10L), (2L, 20L), (2L, 30L),
      (3L, 20L), (3L, 30L), (3L, 40L),
      (4L, 10L), (4L, 50L)).toDF("k", "it")
    val want = Graph.groupedOrderedPairs(bought, cap = 1 << 20)
      .groupBy("a", "b").count().orderBy("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for (cap <- Seq(2, 8)) {
      val got = Graph.groupedOrderedPairs(bought, cap)
        .groupBy("a", "b").count().orderBy("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == want.toSeq, s"cap=$cap")
    }
    // fixture-scale equality through a real consumer: q94's coCounts
    val fx = Seq.tabulate(40)(i => (i.toLong % 7L, i.toLong % 11L))
      .toDF("cust", "item").distinct()
    val wantCo = Graph.coCounts(fx, minCo = 1L, cap = 1 << 20)
      .orderBy("a", "b").collect().map(_.toSeq)
    val gotCo = Graph.coCounts(fx, minCo = 1L, cap = 3)
      .orderBy("a", "b").collect().map(_.toSeq)
    assert(gotCo.toSeq == wantCo.toSeq)
  }

  test("planted whale basket: every tile of the whale path holds at " +
      "most cap^2 pairs and the tiles sum to exactly C(n,2) — no task " +
      "ever enumerates the whole whale") {
    import spark.implicits._
    val n = 50
    val cap = 8
    // one whale basket of 50 distinct items (with a duplicate row —
    // the tile path must dedup), plus a small basket: the tile path is
    // exact for ANY group handed to it (round 10: a small group is
    // simply one tile), so feeding both checks the no-size-filter
    // contract.
    val whale = (1 to n).map(i => (99L, i.toLong)) ++ Seq((99L, 1L))
    val smallB = Seq((7L, 1L), (7L, 2L))
    val tiles = Graph.whalePairTiles(
      (whale ++ smallB).toDF("k", "it"), cap, nPart = 8)
      .groupBy("k", "ci", "cj").count().collect()
    val wTiles = tiles.filter(_.getLong(0) == 99L)
    assert(tiles.forall(_.getLong(3) <= cap.toLong * cap),
      "tile width bounded by cap^2")
    assert(wTiles.map(_.getLong(3)).sum == n.toLong * (n - 1) / 2,
      "whale tiles partition C(n,2) exactly")
    assert(tiles.filter(_.getLong(0) == 7L).map(_.getLong(3)).sum == 1L,
      "small group handed to the tile path emits its one pair")
    val nTiles = wTiles.length
    val nChunks = (n + cap - 1) / cap
    assert(nTiles == nChunks * (nChunks + 1) / 2,
      "one tile per chunk pair (ci <= cj)")
    // and the pairs themselves are the ordered pairs
    val pairs = Graph.groupedOrderedPairs(
      whale.toDF("k", "it"), cap).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == n * (n - 1) / 2)
    assert(pairs.forall { case (a, b) => a < b })
    assert(pairs.toSet.size == pairs.length, "no duplicate pairs")
  }

  test("10^5-item whale is never materialized as a row: the tile path " +
      "plan has no collect_set, chunk count is ceil(n/cap), and the " +
      "(0,0) tile alone enumerates C(cap,2) pairs (round-10 " +
      "de-materialization of the round-9 residual)") {
    import spark.implicits._
    val n = 100000
    val cap = 512
    val whale = spark.range(n).select(lit(99L).as("k"), col("id").as("it"))
    val tiles = Graph.whalePairTiles(whale, cap, nPart = 8)
    assert(!tiles.queryExecution.optimizedPlan.toString.contains("collect_set"),
      "whale path must not aggregate the basket into an array row")
    // chunk-id span: ci of the first tile row set, maxc via the widest cj
    val t00 = tiles.filter(col("ci") === 0L && col("cj") === 0L).count()
    assert(t00 == cap.toLong * (cap - 1) / 2,
      s"tile (0,0) must hold C(cap,2) pairs, got $t00")
    // last-chunk tile (filters push through the join keys — never the
    // full 5e9-pair enumeration): chunk maxc holds n mod cap items
    val maxc = (n - 1) / cap
    val rem = n - maxc * cap
    val tLast = tiles.filter(col("ci") === maxc.toLong &&
      col("cj") === maxc.toLong).count()
    assert(tLast == rem.toLong * (rem - 1) / 2,
      s"last tile must hold C(n mod cap, 2) pairs, got $tLast")
  }

  test("whalePositions: range-split path ≡ single-window path on a " +
      "forced threshold, and a colossal (10^5-item) key takes the " +
      "split plan under the default threshold (round-13 — no single " +
      "task ever sorts a whole colossal whale)") {
    import spark.implicits._
    val rows = (1 to 40)
      .map(i => (if (i % 2 == 0) 1L else 2L, (i * 7 % 100).toLong))
      .toDF("k", "it")
    val win = Graph.whalePositions(rows, nPart = 4,
        splitThreshold = 1000000L)
      .orderBy("k", "i").collect().map(_.toSeq)
    val split = Graph.whalePositions(rows, nPart = 4,
        splitThreshold = 1L)
      .orderBy("k", "i").collect().map(_.toSeq)
    assert(split.toSeq == win.toSeq,
      "split path must emit byte-identical (k, it, i, sz)")
    // colossal key: the default threshold (65536) routes 10^5 distinct
    // items onto the range-split plan (broadcast offset join present),
    // and positions are still the exact 0-based rank
    val whale = spark.range(100000)
      .select(lit(9L).as("k"), col("id").as("it"))
    val pos = Graph.whalePositions(whale, nPart = 8)
    assert(pos.queryExecution.optimizedPlan.toString.contains("__off"),
      "colossal key must take the range-split plan")
    val stats = pos.agg(min(col("i")), max(col("i")), count(lit(1)),
      max(col("sz"))).collect()(0)
    assert(stats.getLong(0) == 0L && stats.getLong(1) == 99999L &&
      stats.getLong(2) == 100000L && stats.getLong(3) == 100000L)
  }

  test("q204 local clustering golden: K4 minus one edge, every cc " +
      "checkable on paper") {
    // edges (1,2),(1,3),(1,4),(2,3),(2,4): triangles {1,2,3},{1,2,4}.
    // deg(1)=deg(2)=3 with 2 triangles each → 2·2e6 div 6 = 666666;
    // deg(3)=deg(4)=2 with 1 triangle each → 2e6 div 2 = 1000000.
    val got = Graph.localClustering(edgeDF(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 2L, 666666L), (2L, 3L, 2L, 666666L),
      (3L, 2L, 1L, 1000000L), (4L, 2L, 1L, 1000000L)))
    // a degree-1 pendant hits the d >= 2 guard
    val p = Graph.localClustering(edgeDF((1L, 2L), (2L, 3L), (1L, 3L),
      (3L, 4L))).collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(p(4L) == 0L)
  }

  test("census golden: K4 minus one edge") {
    // nodes {1,2,3,4}, all edges except (3,4): degrees 3,3,2,2 →
    // wedges C(3,2)+C(3,2)+1+1 = 8; triangles {1,2,3},{1,2,4} = 2;
    // closure = 3·2·10⁶ div 8 = 750000
    val r = Graph.triangleCensus(edgeDF(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((4L, 5L, 8L, 2L, 750000L)))
  }

  test("census golden: triangle-free star has wedges but no triangles") {
    // star center 1 with leaves 2..5: wedges C(4,2)=6, triangles 0
    val r = Graph.triangleCensus(edgeDF(
      (1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))).collect().head
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((6L, 0L, 0L)))
  }

  test("degree orientation counts the same triangles as id " +
      "orientation (chain graph + planted clique)") {
    import spark.implicits._
    // a path (hub-free), a 5-clique (C(5,3)=10 triangles), and a hub
    // node wired to clique members (adds C(3,2)... exactly the pairs
    // among {10,11,12} that are clique edges → 3 more triangles)
    val edges = (
      (1L to 9L).map(i => (i, i + 1)) ++
      (for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)) ++
      Seq((15L, 10L), (15L, 11L), (15L, 12L))
    ).map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val e = edges.toDF("u", "v")
    val census = Graph.triangleCensus(e).collect().head
    // naive id-oriented 3-join (the oracle's plan) on the same edges
    val naive = e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"), col("e3.u") === col("e1.u") &&
        col("e3.v") === col("e2.v"))
      .count()
    assert(census.getLong(3) == naive)
    assert(census.getLong(3) == 13L)
  }

  test("coSupplyEdges: threshold keeps only pairs sharing enough parts") {
    import spark.implicits._
    // suppliers 1,2 share parts {100,101}; 1,3 share only {100};
    // duplicate lineitem rows must not inflate the shared count
    val li = Seq(
      (100L, 1L), (100L, 1L), (100L, 2L), (100L, 3L),
      (101L, 1L), (101L, 2L), (102L, 3L)
    ).toDF("l_partkey", "l_suppkey")
    val e2 = Graph.coSupplyEdges(li, minShared = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e2 == Set((1L, 2L)))
    val e1 = Graph.coSupplyEdges(li, minShared = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e1 == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("pageRank matches an independent driver-side integer replay") {
    import spark.implicits._
    // star + tail: hub 1 with leaves 2,3,4 and a path 4-5-6
    val es = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 6L))
    val got = graft.operators.Graph.pageRank(es.toDF("u", "v"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay the same integer recurrence in plain Scala
    val sym = es ++ es.map(_.swap)
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var s = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5)
      s = sym.groupBy(_._2).map { case (v, in) =>
        v -> (150000L + 85L * in.map { case (u, _) => s(u) / deg(u) }
          .sum / 100L)
      }
    assert(got == s)
    // the hub outranks every leaf
    assert(got(1L) > got(2L) && got(2L) == got(3L))
  }

  test("pageRank conserves mass up to floor loss at sf0.001") {
    val scores = graft.operators.Graph.q93PageRank(spark, sf).collect()
      .map(_.getLong(1))
    assert(scores.nonEmpty)
    val n = scores.length
    assert(scores.sum <= n * 1000000L, "floor ops only lose mass")
    assert(scores.forall(_ >= 150000L), "teleport term is a floor")
  }

  test("itemSimilarity: planted baskets give a hand-checkable jaccard " +
      "ranking") {
    import spark.implicits._
    // items: 10,11 always co-bought (3 shared of 3/3 buyers → ppm 1e6);
    // 10,12 share 2 buyers of 3+2 (jacc 2/3); 13 bought once → no pair
    // survives minCo=2 with it
    val li = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 11L),
      (1L, 12L), (2L, 12L), (3L, 13L)
    ).map { case (o, p) => (o, p, 1) }
      .toDF("l_orderkey", "l_partkey", "x")
    val ords = Seq((1L, 101L), (2L, 102L), (3L, 103L))
      .toDF("o_orderkey", "o_custkey")
    val out = graft.operators.Graph.itemSimilarity(li, ords)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3)))).toMap
    assert(out((10L, 11L)) == ((3L, 1000000L)))
    assert(out((10L, 12L)) == ((2L, 666666L)))
    assert(out((11L, 12L)) == ((2L, 666666L)))
    assert(!out.keySet.exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("q94: jaccard bounded by 1e6, co bounded by buyer sets, order " +
      "is (jaccard desc, pair) at sf0.001") {
    val rows = graft.operators.Graph.q94ItemSimilarity(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 100)
    rows.foreach { r =>
      assert(r.getLong(3) <= 1000000L && r.getLong(3) >= 0L)
      assert(r.getLong(0) < r.getLong(1), "pairs are id-ordered")
    }
    val keys = rows.map(r => (-r.getLong(3), r.getLong(0), r.getLong(1)))
    assert(keys.sameElements(keys.sorted))
  }

  test("q91 census is internally consistent at sf0.001") {
    val r = Graph.q91Triangles(spark, sf).collect().head
    val (nodes, edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nodes > 0 && edges > 0)
    assert(edges <= nodes * (nodes - 1) / 2)
    assert(tris * 3 <= wedges, "each triangle closes 3 wedges")
    assert(r.getLong(4) == (if (wedges == 0) 0L
      else tris * 3 * 1000000 / wedges))
  }

  test("bfsDepth golden: path graph distances, fixed depth cuts the " +
      "tail, unreachable nodes absent") {
    import spark.implicits._
    // path 1-2-3-4-5-6 plus isolated edge 8-9; seed {1}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (8L, 9L)).toDF("u", "v")
    val seeds = Seq(1L).toDF("node")
    val d = Graph.bfsDepth(edges, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }

  test("bfsDepth frontier is monotone: deeper iters only ADD nodes " +
      "and never change an existing distance") {
    import spark.implicits._
    val edges = (1L to 20L).map(i => (i, i + 1)).toDF("u", "v")
    val seeds = Seq(1L, 15L).toDF("node")
    val d2 = Graph.bfsDepth(edges, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d4 = Graph.bfsDepth(edges, seeds, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2.forall { case (n, dist) => d4(n) == dist })
    assert(d2.size < d4.size)
  }

  test("assocRules hand replay: lift and confidence on planted baskets") {
    import spark.implicits._
    // baskets: c1{10,20}, c2{10,20}, c3{10,30}, c4{40} -> N=4 baskets
    // co(10,20)=2, n10=3, n20=2: conf 10->20 = 2e6 div 3 = 666666,
    // conf 20->10 = 1000000, lift = 2*4e6 div (3*2) = 1333333
    val bought = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 40L))
      .toDF("cust", "item")
    val rules = Graph.assocRulesFrom(bought,
      Graph.coCounts(bought, minCo = 2L), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rules((10L, 20L)) == ((2L, 666666L, 1333333L)))
    assert(rules((20L, 10L)) == ((2L, 1000000L, 1333333L)))
    assert(!rules.contains((10L, 30L))) // co=1 < minCo
  }

  test("k-core golden: K4 with a chain tail peels the tail at k=2, " +
      "keeps exactly K4 at k=3, and empties at k=4") {
    // K4 on {1,2,3,4} + tail 4-5-6-7
    val g = edgeDF((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L))
    def nodes(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("u").as("n"))
        .unionAll(df.select(col("v").as("n")))
        .distinct().collect().map(_.getLong(0)).toSet
    // the tail peels one node per round, so 3 rounds reach every
    // fixpoint here; a 4th round must change nothing
    def core(k: Long): Set[Long] = {
      val got = nodes(Graph.kCorePeel(g, k, rounds = 3))
      assert(nodes(Graph.kCorePeel(g, k, rounds = 4)) == got,
        s"k=$k: 3 rounds did not reach the fixpoint")
      got
    }
    assert(core(1) == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(core(2) == Set(1L, 2L, 3L, 4L))
    assert(core(3) == Set(1L, 2L, 3L, 4L))
    assert(core(4).isEmpty)
    // one round short of the fixpoint, the tail is still peeling
    assert(nodes(Graph.kCorePeel(g, 2, rounds = 2)) ==
      Set(1L, 2L, 3L, 4L, 5L))
  }

  test("k-core on the co-supply graph ≡ a driver-side peeling replay") {
    val edges = Graph.coEdges25(spark, sf)
    // independent replay: naive synchronous peel over the collected
    // edge list, counting the rounds that removed something
    var es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val bad = deg.filter(_._2 < 3).keySet
      val next = es.filter(e => !bad(e._1) && !bad(e._2))
      changed = next != es
      if (changed) rounds += 1
      es = next
    }
    def peel(n: Int) = Graph.kCorePeel(edges, 3, rounds = n).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mine = peel(rounds)
    assert(mine == es, s"spark ${mine.size} edges vs replay ${es.size}")
    assert(peel(rounds + 1) == mine, "one more round changed the core")
    assert(mine.nonEmpty || es.isEmpty)
  }

  test("q140 PPR: planted path graph matches an exact driver-side " +
      "replay of the integer recursion; unreachable nodes score 0") {
    import spark.implicits._
    // path 0-1-2-...-9, seed {0}
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("u", "v")
    val seeds = Seq(0L).toDF("node")
    val scores = graft.operators.Graph
      .personalizedPageRank(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact integer replay
    val nbrs = (0L to 9L).map(i =>
      i -> Seq(i - 1, i + 1).filter(j => j >= 0 && j <= 9)).toMap
    val reset = (0L to 9L).map(i =>
      i -> (if (i == 0L) 1000000L else 0L)).toMap
    var s = reset
    for (_ <- 1 to 5) {
      s = (0L to 9L).map { v =>
        val cs = nbrs(v).map(u => s(u) / nbrs(u).size).sum
        v -> ((15L * reset(v)) / 100L + (85L * cs) / 100L)
      }.toMap
    }
    assert(scores == s, s"spark $scores vs replay $s")
    assert(scores(0L) >= 150000L, "seed keeps its teleport floor")
    // mass travels at most 5 hops in 5 iterations
    (6L to 9L).foreach(i => assert(scores(i) == 0L,
      s"node $i is unreachable in 5 iterations"))
    // a seedless run is all zeros (teleport mass gates everything)
    val zero = graft.operators.Graph
      .personalizedPageRank(edges, Seq.empty[Long].toDF("node"))
      .collect().map(_.getLong(1))
    assert(zero.forall(_ == 0L))
  }

  test("q143 LPA: two cliques joined by a bridge resolve to two " +
      "communities with min-label tie-breaks") {
    // clique A = {1..5}, clique B = {11..15}, bridge (5, 11).
    // Hand-simulated 3 synchronous rounds (round 1 is all-ties → min
    // neighbour; round 2 counts dominate; round 3 is stable): every A
    // node lands on label 1, every B node on label 11.
    val edges = edgeDF(
      ((for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) ++
        (for (a <- 11L to 15L; b <- (a + 1) to 15L) yield (a, b)) ++
        Seq((5L, 11L))): _*)
    val got = Graph.labelPropagation(edges, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert((11L to 15L).forall(got(_) == 11L))
  }

  test("q155 modularity: hand-computed goldens on the two-clique " +
      "bridge graph") {
    // two 5-cliques bridged at (5, 11): m = 21 edges; LPA labels the
    // cliques {1..5} → 1 and {11..15} → 11 (previous test). Each
    // community: e_in = 10 (the bridge is cross-community), K = 4·4+5
    // = 21 (four degree-4 nodes + the degree-5 bridge endpoint), so
    // q_num = 4·21·10 − 21² = 399 and q_e6 = 399·10⁶ div 4·21² =
    // 226190.
    val edges = edgeDF(
      ((for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) ++
        (for (a <- 11L to 15L; b <- (a + 1) to 15L) yield (a, b)) ++
        Seq((5L, 11L))): _*)
    val labels = Graph.labelPropagation(edges, rounds = 3)
    val got = Graph.modularityByCommunity(edges, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == Set(1L, 11L))
    got.values.foreach { case (nNodes, kSum, eIn, qNum, qE6) =>
      assert(nNodes == 5L && kSum == 21L && eIn == 10L)
      assert(qNum == 399L && qE6 == 226190L)
    }
  }

  test("q167 assortativity goldens: a star is perfectly " +
      "disassortative (r = -1), a clique hits the 0/0 guard") {
    // star 0–{1..4}: n=8 directed edges, Σdu=20, Σdudv=32, Σdu²=68 →
    // r = (8·32 − 400)/(8·68 − 400) = −144/144 = −1
    val star = Graph.degreeAssortativity(
      edgeDF((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))).collect().head
    assert(star.getLong(0) == 8L && star.getLong(1) == 20L &&
      star.getLong(2) == 32L && star.getLong(3) == 68L)
    assert(star.getDouble(4) == -1.0)
    // K4 is 3-regular: n·Σdu² = (Σdu)² exactly → guarded r = 0
    val k4 = Graph.degreeAssortativity(edgeDF(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
      .collect().head
    assert(k4.getDouble(4) == 0.0)
  }

  test("q143 LPA: one-round vote goldens (all-tie → min label, " +
      "neighbours only — a node never votes for itself)") {
    // center 0 wired to {1,2,3,9}, triangle on {1,2,3}. One round:
    // node 0 sees labels {1,2,3,9} once each → tie → min = 1;
    // node 1 sees {0,2,3} → 0; leaf 9 sees only {0} → 0.
    val star = edgeDF((0L, 1L), (0L, 2L), (0L, 3L), (0L, 9L),
      (1L, 2L), (1L, 3L), (2L, 3L))
    val r1 = Graph.labelPropagation(star, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(0L) == 1L) // all-tie → min label
    // node 1's neighbours are {0, 2, 3} — all singleton labels, min 0
    assert(r1(1L) == 0L)
    // node 9's only neighbour is the center
    assert(r1(9L) == 0L)
  }

  test("q250 HITS hand golden: 3 integer max-normalized rounds on a " +
      "planted bipartite graph — hub 1 (3 parts incl. both exclusives) " +
      "dominates hub 2, shared part 10 dominates the exclusives") {
    import spark.implicits._
    // edges: hub 1 → {10, 11, 12}, hub 2 → {10}
    // r1: hraw = (3e6, 1e6) → h = (1e6, 333333);
    //     araw(10) = 1333333, araw(11) = araw(12) = 1e6
    //     → a = (1e6, 750000, 750000)
    // r2: hraw(1) = 2.5e6, hraw(2) = 1e6 → h = (1e6, 400000);
    //     araw(10) = 1.4e6 → a = (1e6, 714285, 714285)
    // r3: hraw(1) = 2428570 → h = (1e6, 1e12 div 2428570 = 411764);
    //     araw(10) = 1411764 → a = (1e6, 1e12 div 1411764 = 708333,
    //     708333)
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L))
      .toDF("hub", "auth")
    val (hub, auth) = Graph.hits(edges, rounds = 3)
    val h = hub.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a = auth.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(h == Map(1L -> 1000000L, 2L -> 411764L), s"$h")
    assert(a == Map(10L -> 1000000L, 11L -> 708333L, 12L -> 708333L),
      s"$a")
  }

  test("q262 Katz hand golden: 10-leaf star, 3 rounds — the round-2 " +
      "divide-only normalization actually divides (mx div 1e6 = 2), " +
      "center outranks leaves throughout") {
    import spark.implicits._
    // r1: sn = s (mx 1e6): center 1e6 + 15·(10·1e6)/100 = 2.5e6,
    //     leaf 1e6 + 15·1e6/100 = 1.15e6
    // r2: mx 2.5e6 → div 2: sn(center) 1.25e6, sn(leaf) 575000;
    //     center 1e6 + 15·5.75e6/100 = 1862500,
    //     leaf 1e6 + 15·1.25e6/100 = 1187500
    // r3: mx 1862500 → div 1: center 1e6 + 15·11875000/100 = 2781250,
    //     leaf 1e6 + 15·1862500/100 = 1279375
    val edges = (1L to 10L).map(l => (0L, l)).toDF("u", "v")
    val got = Graph.katzCentrality(edges, iters = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(0L) == 2781250L, s"$got")
    assert((1L to 10L).forall(l => got(l) == 1279375L), s"$got")
  }

  test("kTruss hand golden: K4 survives the 4-truss while an attached " +
      "pendant triangle is peeled (edge cohesion, not node degree); " +
      "fixed-round sibling agrees once converged") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (4L, 6L), (5L, 6L)).toDF("u", "v")
    val k4 = Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    def truss(k: Long, rounds: Int) =
      Graph.kTrussPeel(edges, k = k, rounds = rounds).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the pendant triangle goes in round 1; round 2 changes nothing
    val t4 = truss(4, rounds = 1)
    assert(t4 == k4, s"$t4")
    assert(truss(4, rounds = 2) == k4)
    // k = 3 keeps every edge that closes at least one triangle — all 9
    assert(truss(3, rounds = 1).size == 9)
    assert(truss(3, rounds = 2).size == 9)
  }

  test("trussPeelRound degree orientation: a planted hub star + " +
      "triangle peels identically to the naive unoriented support " +
      "count (round-14 verdict item 8 — support is orientation-" +
      "invariant, the fan-out is not)") {
    import spark.implicits._
    // hub 100 connected to 1..10 (whale star: deg 10), plus the
    // triangle (1,2),(1,3),(2,3) — so (100,1),(100,2),(100,3) each
    // close 2 triangles through the hub while (100,4..10) close none
    val edges = ((1L to 10L).map(i => (100L, i)) ++
      Seq((1L, 2L), (1L, 3L), (2L, 3L))).toDF("u", "v")
    // naive unoriented reference: support = |N(u) ∩ N(v)| per edge
    val sym = edges.select(col("u").as("x"), col("v").as("y"))
      .unionAll(edges.select(col("v").as("x"), col("u").as("y")))
    val naive = edges
      .join(sym.select(col("x").as("u"), col("y").as("w")), "u")
      .join(sym.select(col("x").as("v"), col("y").as("w")),
        Seq("v", "w"))
      .groupBy("u", "v")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("sup"))
    val naiveKeep = edges.join(naive, Seq("u", "v"), "left")
      .filter(org.apache.spark.sql.functions.coalesce(col("sup"),
        org.apache.spark.sql.functions.lit(0L)) >= 2L)
      .select("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oriented = Graph.kTrussPeel(edges, k = 4L, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oriented == naiveKeep, s"$oriented vs $naiveKeep")
    assert(oriented == Set((100L, 1L), (100L, 2L), (100L, 3L),
      (1L, 2L), (1L, 3L), (2L, 3L)), s"$oriented")
    // and to convergence: the K4-like 4-truss on {100,1,2,3} is stable
    assert(Graph.kTrussPeel(edges, k = 4L, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == oriented)
  }

  test("q305 Louvain golden: two K4 cliques joined by one bridge " +
      "split into exactly the two cliques (the partition LPA's " +
      "min-label tie votes leak across — modularity gain does not " +
      "pay for absorbing a bridge endpoint)") {
    import spark.implicits._
    def k4(off: Long) = for {
      a <- 0L to 3L; b <- (a + 1) to 3L
    } yield (off + a, off + b)
    val edges = (k4(1) ++ k4(5) :+ (4L, 5L)).toDF("u", "v")
    val got = Graph.louvainRounds(edges, rounds = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val comms = got.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(comms == Set(Set(1L, 2L, 3L, 4L), Set(5L, 6L, 7L, 8L)),
      s"partition: $got")
  }

  test("q305 vs q143 on the fixture co-supply graph: the modularity " +
      "objective (Σ q_num over communities, fixed 4m² denominator) " +
      "does not regress under the optimizer — Louvain ≥ LPA, " +
      "measured on the same memoized edges q155 evaluates") {
    val edges = Graph.coEdges25(spark, sf)
    def objective(labels: org.apache.spark.sql.DataFrame): Long =
      Graph.modularityByCommunity(edges, labels)
        .agg(sum(col("q_num"))).collect().head.getLong(0)
    val louvain = objective(Graph.louvainRounds(edges, rounds = 3))
    val lpa = objective(Graph.lpa25(spark, sf))
    assert(louvain >= lpa, s"louvain $louvain < lpa $lpa")
  }

  test("q311 cliques-of-cliques golden: two blocks of three bridged " +
      "4-cliques inside a 100-edge background ring — ONE ascent level " +
      "provably keeps the cliques separate (stay-score 6m−24 beats the " +
      "cross-bridge 2m−40 for every m), the CONTRACTED level merges " +
      "each block (2m·l > k·tot once m is large), and blocks never " +
      "mix (round-15 verdict item 2)") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val block1 = clique(1L to 4L) ++ clique(5L to 8L) ++
      clique(9L to 12L) ++ Seq((4L, 5L), (8L, 9L), (12L, 1L))
    val block2 = clique(21L to 24L) ++ clique(25L to 28L) ++
      clique(29L to 32L) ++ Seq((24L, 25L), (28L, 29L), (32L, 21L))
    val ring = (101L until 200L).map(i => (i, i + 1)) :+ (200L, 101L)
    val edges = (block1 ++ block2 ++ ring).toDF("u", "v")
    val (c1, _, _, map2) = Graph.louvainTwoLevelOf(edges)
    val l1 = c1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cliques = Seq(1L to 4L, 5L to 8L, 9L to 12L, 21L to 24L,
      25L to 28L, 29L to 32L)
    // level 1: each clique uniform, all six distinct
    cliques.foreach { c =>
      assert(c.map(l1).toSet.size == 1, s"clique $c split at level 1")
    }
    assert(cliques.map(c => l1(c.head)).toSet.size == 6,
      "level 1 merged cliques it provably cannot")
    val l2 = map2.select("node", "c2").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // level 2: each block ONE community, the two blocks distinct
    val b1 = (1L to 12L).map(l2).toSet
    val b2 = (21L to 32L).map(l2).toSet
    assert(b1.size == 1, s"block 1 not merged at level 2: $b1")
    assert(b2.size == 1, s"block 2 not merged at level 2: $b2")
    assert(b1 != b2, "disconnected blocks merged")
    // and the q155 objective does not regress level 1 -> level 2
    def objective(labels: org.apache.spark.sql.DataFrame): Long =
      Graph.modularityByCommunity(edges, labels)
        .agg(sum(col("q_num"))).collect().head.getLong(0)
    val q1 = objective(c1)
    val q2 = objective(map2.select(col("node"),
      col("c2").as("community")))
    assert(q2 >= q1, s"contraction regressed modularity: $q2 < $q1")
  }
}
