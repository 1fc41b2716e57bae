package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.load

/** Graph analytics over relationship tables — triangle counting and the
  * global clustering (closure) ratio, the structural summary a mixture
  * or dedup designer reads off an entity co-occurrence graph
  * (complements the connected-component machinery in
  * [[Dedup.connectedComponents]]).
  *
  * Fixture graph: the supplier CO-SUPPLY graph — suppliers are linked
  * when they supply at least `minShared` common parts (from lineitem's
  * distinct (part, supplier) pairs). The threshold keeps the projection
  * of the bipartite part–supplier table sparse: co-occurrence
  * projections densify quadratically per hot part, thresholding is the
  * standard cure.
  *
  * Triangle counting uses DEGREE ORIENTATION (orient every undirected
  * edge from the lower-(degree, id) endpoint to the higher one): each
  * triangle then has exactly ONE node whose two triangle edges both
  * point out, so counting (wedge, closing-edge) matches counts each
  * triangle once, and the wedge fan-out per node is bounded by its
  * OUT-degree ≤ O(√m) — the classic trick that tames power-law hubs
  * (a hub of degree d contributes C(d,2) wedges un-oriented, but only
  * C(out,2) with out ≤ √(2m) oriented). The DuckDB oracle uses the
  * plain id orientation — a different edge direction assignment, the
  * SAME count — so the gate pins semantics, not plan.
  */
object Graph {

  /** Undirected co-supply edge list (u < v by id, no duplicates):
    * supplier pairs sharing ≥ `minShared` distinct parts. The per-part
    * self-join fans out C(suppliers-per-part, 2) pair rows; the count
    * agg is partial-combining, so the shuffle carries (u, v) pairs. */
  def coSupplyEdges(lineitem: DataFrame, minShared: Long,
      cap: Int = DefaultBasketCap): DataFrame =
    groupedOrderedPairs(
      lineitem.select(col("l_partkey").as("k"),
        col("l_suppkey").as("it")),
      cap)
      .groupBy(col("a").as("u"), col("b").as("v"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select("u", "v")

  /** Whale-group cap: groups (baskets / hot parts) with more than this
    * many distinct items leave the one-row collect_set fast-path for
    * the chunk-tiled pair join in [[groupedOrderedPairs]]. cap² pairs
    * per task at most — 512² ≈ 2.6·10⁵, a sub-second tile. */
  val DefaultBasketCap = 512

  /** Within-group ordered item pairs (a < b), one output row per pair
    * per group — exact for ANY cap and ANY routing, task- AND
    * row-width-bounded for every cap.
    *
    * Input: (k, it) rows, not necessarily distinct per group. Groups
    * are ROUTED by key onto one of two exact plans:
    *
    *  - **array path (small groups)**: one k-keyed shuffle collects
    *    each group's sorted distinct item array map-side, then streams
    *    the C(sz, 2) ordered pairs with posexplode + per-row slice (no
    *    per-row pair-array materialization — the G1
    *    humongous-allocation trap).
    *  - **tile path (whale groups)**: a bot/whale group with 10⁷
    *    distinct items is never materialized as a row AT ALL (round 10
    *    — the round-9 residual closed): the distinct (k, it) rows get
    *    their position i from [[whalePositions]] (a per-key rank
    *    window for normal whales; a COLOSSAL key ≥ 2¹⁶ items takes
    *    the range-split path — round 13, so no single task ever sorts
    *    a whole colossal whale) and chunk id c = i div cap;
    *    pairs are enumerated per chunk TILE (ci ≤ cj) by an equi-join
    *    on (k, ci, cj) — ≤ cap² pairs per task, C(sz, 2) total, and no
    *    aggregation buffer is ever basket-sized. Rank order = item
    *    order, so `ci < cj OR i < j` IS `a < b` — no ties.
    *
    * Routing is by an approx_count_distinct(it) > cap/2 key set — a
    * partial-combining HLL agg over slim (k, it) rows, never the data
    * itself. Routing is PERF-ONLY: both paths enumerate exactly the
    * ordered pairs of whatever keys they are given (the tile path has
    * no size filter, the array path no size cap), so an HLL
    * misestimate can only move a borderline group's plan, never a
    * pair. The cap/2 margin means a true whale would need a 50% HLL
    * undercount (≫ 10σ at rsd 0.05) to reach the array path at even
    * 2·cap width. GraphSpec pins capped ≡ uncapped, tile widths, and
    * the collect_set-free whale plan. */
  private[graft] def groupedOrderedPairs(pairs: DataFrame,
      cap: Int): DataFrame = {
    require(cap >= 2, s"cap must be >= 2, got $cap")
    // Explicit partition count: these frames are tiny in bytes but fan
    // out C(k, 2) pair rows each — AQE's size-based coalescing would
    // run the explode on one partition (user-specified counts are
    // exempt).
    val nPart = pairs.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    // Round 18 (guide §1.2/§2): the routing table is MATERIALIZED once
    // — it used to re-run the HLL agg over all (k, it) rows twice (once
    // under the anti join, once under the semi join) — and counted on
    // the driver (a key-cardinality-sized leaf, the whalePositions
    // maxSz discipline). When there are NO whale keys (the common case:
    // real basket/part groups are far below cap/2 = 256), the anti join
    // and the entire tile branch (distinct + rank + tile join jobs over
    // an empty frame) are skipped outright — routing is PERF-ONLY, so
    // the short-circuit cannot move a pair (GraphSpec pins capped ≡
    // uncapped and the planted-whale path, which still routes through
    // the tile branch because its key count is non-zero).
    val whaleKeys = pairs.groupBy(col("k"))
      .agg(approx_count_distinct(col("it")).as("ad"))
      .filter(col("ad") > cap / 2)
      .select("k")
      .localCheckpoint(true)
    val nWhales = whaleKeys.count()
    val smallSrc =
      if (nWhales == 0L) pairs
      else pairs.join(whaleKeys, Seq("k"), "left_anti")
    val small = smallSrc
      .groupBy(col("k"))
      .agg(sort_array(collect_set(col("it"))).as("w"))
      .filter(size(col("w")) >= 2)
      .repartition(nPart, col("k"))
      .select(posexplode(col("w")).as(Seq("i", "a")), col("w"))
      .select(col("a"), explode(slice(col("w"), col("i") + 2,
        size(col("w")))).as("b"))
    if (nWhales == 0L) small
    else small.unionAll(
      whalePairTiles(pairs.join(whaleKeys, Seq("k"), "left_semi"),
        cap, nPart)
        .select(col("a"), col("b")))
  }

  /** The tile-join path of [[groupedOrderedPairs]], with the
    * (k, ci, cj) tile key retained so GraphSpec can pin per-tile
    * width ≤ cap². Takes raw (k, it) rows — positions come from a
    * rank window over the distinct rows, so no row is ever
    * basket-sized (round 10; previously this posexploded a
    * sort_array(collect_set) whale array). Exact for any group size
    * (a "small" group routed here is simply one tile). */
  /** Per-key 0-based position (rank by `it`) and group size for the
    * distinct (k, it) rows — SIZE-SWITCHED (round 13, verdict-r12
    * observation 1): below `splitThreshold` a plain per-key rank
    * window (one sort task per key, constant 16-byte rows — fine for
    * every real whale seen so far); a COLOSSAL key (≥ threshold
    * distinct items) instead takes the `globalOrderedScan` range-split
    * discipline, per key: range-repartition by (k, it), local rank
    * within (partition, k), plus a broadcast per-(partition, key)
    * offset table — no single task ever sorts a whole colossal whale.
    * Both paths emit identical (k, it, i, sz); GraphSpec pins
    * split ≡ window and that a planted 10⁵-item key takes the split
    * plan. */
  private[graft] def whalePositions(rows: DataFrame, nPart: Int,
      splitThreshold: Long = 65536L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = rows.select("k", "it").distinct().localCheckpoint()
    val mx = d.groupBy(col("k")).agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")).as("m")).collect()(0)
    val maxSz = if (mx.isNullAt(0)) 0L else mx.getLong(0)
    if (maxSz <= splitThreshold) {
      val byItem = Window.partitionBy("k").orderBy("it")
      val whole = Window.partitionBy("k")
      d.select(col("k"), col("it"),
        (row_number().over(byItem).cast("long") - 1L).as("i"),
        count(lit(1)).over(whole).as("sz"))
    } else {
      val ranged = d.repartitionByRange(nPart, col("k"), col("it"))
        .withColumn("__pid", spark_partition_id().cast("long"))
        .localCheckpoint()
      val wLoc = Window.partitionBy(col("__pid"), col("k"))
        .orderBy(col("it"))
      val local = ranged.withColumn("__lrn",
        row_number().over(wLoc).cast("long"))
      val perPart = ranged.groupBy(col("__pid"), col("k"))
        .agg(count(lit(1)).as("__pc"))
      val wOff = Window.partitionBy(col("k")).orderBy(col("__pid"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = perPart
        .withColumn("__off",
          coalesce(sum(col("__pc")).over(wOff), lit(0L)))
        .select(col("__pid"), col("k"), col("__off"))
      val cnts = perPart.groupBy(col("k"))
        .agg(sum(col("__pc")).as("sz"))
      local.join(broadcast(offs), Seq("__pid", "k"))
        .join(broadcast(cnts), Seq("k"))
        .select(col("k"), col("it"),
          (col("__off") + col("__lrn") - 1L).as("i"), col("sz"))
    }
  }

  private[graft] def whalePairTiles(rows: DataFrame, cap: Int,
      nPart: Int): DataFrame = {
    val witems = whalePositions(rows, nPart)
      .select(col("k"), col("it"), col("i"),
        expr(s"i div $cap").as("c"),
        expr(s"(sz - 1) div $cap").as("maxc"))
    val leftRep = witems.select(col("k"), col("i"), col("it").as("a"),
      col("c").as("ci"),
      explode(sequence(col("c"), col("maxc"))).as("cj"))
    val rightRep = witems.select(col("k"), col("i").as("j"),
      col("it").as("b"),
      explode(sequence(lit(0L), col("c"))).as("ci"),
      col("c").as("cj"))
    leftRep
      .repartition(nPart, col("k"), col("ci"), col("cj"))
      .join(rightRep.repartition(nPart, col("k"), col("ci"), col("cj")),
        Seq("k", "ci", "cj"))
      // across tiles position order implies item order; within a tile
      // (ci = cj) the i < j residual keeps exactly the ordered pairs
      .filter(col("ci") < col("cj") || col("i") < col("j"))
      .select(col("k"), col("ci"), col("cj"), col("a"), col("b"))
  }

  /** Triangle census of an undirected edge list (columns u, v with
    * u < v, deduplicated): one row
    * (n_nodes, n_edges, n_wedges, n_triangles, closure_ppm) where
    * closure_ppm = 3·triangles·10⁶ div wedges (the global clustering
    * coefficient in exact integer ppm — D6, no IEEE division).
    *
    * The edge list is persisted: degrees, the wedge join, and the
    * closing-edge semi-join all scan it, and the census runs as one
    * action. */
  def triangleCensus(edges: DataFrame): DataFrame = {
    // e, deg, and oriented each feed 2–3 downstream scans (and the
    // oriented wedge self-join would otherwise recompute its whole
    // join subtree once per alias): persist all three so every frame
    // is built exactly once inside the single census action
    val e = edges.select("u", "v").persist()
    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
      .persist()
    // orient each edge toward the higher (degree, id) endpoint;
    // deg is node-sized — both orientation joins broadcast it
    val oriented = e
      .join(broadcast(deg.select(col("x").as("u"), col("d").as("du"))),
        "u")
      .join(broadcast(deg.select(col("x").as("v"), col("d").as("dv"))),
        "v")
      .select(when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("a"), col("v").as("b")))
        .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("o"))
      .select(col("o.a").as("a"), col("o.b").as("b"))
      .persist()
    // out-wedges (b < c by id so each unordered wedge appears once);
    // the closing edge is then looked up in stored (u < v) form
    val triangles = oriented.as("x").join(oriented.as("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.b").as("u"), col("y.b").as("v"))
      .join(e, Seq("u", "v"), "leftsemi")
      .agg(count(lit(1)).as("n_triangles"))
    val counts = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum((d * (d - 1)) div 2)").as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    counts.crossJoin(nEdges).crossJoin(triangles)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("case when n_wedges = 0 then 0L else " +
          "(n_triangles * 3 * 1000000) div n_wedges end")
          .as("closure_ppm"))
  }

  /** Q91: triangle census of the co-supply graph. minShared = 25 keeps
    * the graph sparse at sf0.1 (~3% of pairs) while lower SFs — whose
    * denser sampling co-supplies every pair far above 25 — degenerate
    * to near-complete graphs, exercising the dense path too. */
  def q91Triangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(coEdges25(spark, dir))

  // ---------------------------------------------------------------- q93

  /** Integer-scaled PageRank (damping 0.85, scores in millionths):
    *   s₀(v) = 10⁶;  s_{k+1}(v) = 150000 + (85·Σ_{u→v} (s_k(u) div
    *   d(u))) div 100
    * Every step is integer floor arithmetic — no IEEE accumulation, so
    * a FIXED iteration count gives bit-identical scores in any engine:
    * that is what puts an iterative graph algorithm under the hard SQL
    * oracle (which unrolls the same five iterations as chained CTEs).
    *
    * Scale: the per-iteration work is one (src-keyed) join of the edge
    * list against the slim (node, score) frame plus one dst-keyed
    * count-sum — the canonical PR shuffle pair. Edges and degrees are
    * persisted once and reused every round; each round's scores are
    * localCheckpoint'ed (iterative-loop rule: persist alone keeps
    * lineage and Catalyst re-analysis grows exponentially). Scores stay
    * ~10⁶-scaled longs (mass is conserved up to floor loss), so hub
    * scores sit far from BIGINT range. */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame =
    pageRankRounds(edges, iters).last
      .select(col("node"), col("s").as("score"))

  /** Every intermediate score frame of [[pageRank]] (index 0 = the
    * uniform seed) — q265's convergence audit reads consecutive
    * rounds off this; each frame is localCheckpoint'ed so reading
    * several costs no recomputation. */
  private[graft] def pageRankRounds(edges: DataFrame,
      iters: Int): Seq[DataFrame] = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .persist()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d")).persist()
    var scores = deg.select(col("src").as("node"),
      lit(1000000L).as("s")).localCheckpoint()
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](scores)
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(deg, "src")
        .join(scores.select(col("node").as("src"), col("s")), "src")
        .select(col("dst").as("node"), expr("s div d").as("c"))
      scores = contrib.groupBy("node")
        .agg(expr("150000 + (85 * sum(c)) div 100").as("s"))
        .localCheckpoint()
      rounds += scores
    }
    // Every returned frame is checkpointed (lineage cut), so the loop
    // inputs can release their cache blocks here — a returned-lazy
    // persist would otherwise leak for the session lifetime (the same
    // class round 7 closed in Dedup; katzCentrality below already
    // unpersists its sym).
    sym.unpersist()
    deg.unpersist()
    rounds.toSeq
  }

  // ---------------------------------------------------------------- q265

  /** Q265: PAGERANK CONVERGENCE AUDIT — per round, the L1 movement of
    * the score vector (Σ|s_k − s_{k-1}|) and the max per-node move:
    * the evidence that a FIXED round count suffices (or doesn't) —
    * every fixed-round engine-shared iteration here (q93/q140/q250/
    * q262) rests on this being a fast-decaying curve, and this query
    * measures it instead of asserting it. Round 1's mass is large by
    * construction (uniform seed); the decay RATE is the readout.
    *
    * Scale: consecutive rounds join node-keyed (each side already
    * checkpointed by the PR loop); each round's audit is one
    * partial-combining aggregate; output = `iters` rows. */
  /** Memoized 5-round PageRank chain over the co-supply graph (round
    * 17): q93 reads the final frame and q265 the whole chain — the
    * two queries re-ran the identical 5-round loop per Verify/Bench
    * pass. Every frame is already localCheckpoint'ed by the loop, so
    * holding the Seq is free (the exactPairs memo discipline). */
  private[operators] val prRounds25: Memo[Seq[DataFrame]] =
    Memo("pr_rounds25") { (spark, dir) =>
      pageRankRounds(coEdges25(spark, dir), iters = 5)
    }

  def q265PrConvergence(spark: SparkSession, dir: String): DataFrame = {
    val rounds = prRounds25(spark, dir)
    rounds.sliding(2).zipWithIndex.map { case (Seq(prev, cur), i) =>
      cur.as("a").join(prev.as("b"), col("a.node") === col("b.node"))
        .select(abs(col("a.s") - col("b.s")).as("d"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("d")).as("delta_mass"),
          max(col("d")).as("max_delta"))
        .select(lit(i + 1L).as("round"), col("n_nodes"),
          col("delta_mass"), col("max_delta"))
    }.reduce(_ unionAll _).orderBy("round")
  }

  def q93PageRank(spark: SparkSession, dir: String): DataFrame =
    prRounds25(spark, dir).last
      .select(col("node"), col("s").as("score"))
      .orderBy("node")

  // ---------------------------------------------------------------- q262

  /** Q262: KATZ CENTRALITY — the path-counting centrality
    * (s = Σ_k α^k A^k 𝟙) that completes the centrality family next to
    * PageRank (q93, degree-normalized), PPR (q140, seeded) and HITS
    * (q250, bipartite): Katz rewards being reachable by MANY short
    * paths without dividing by out-degree, so a node pointed at by a
    * few well-connected neighbors can outrank a high-degree hub —
    * the "influence" reading PageRank's normalization suppresses.
    *
    * ENGINE-SHARED integer form: α = 0.15 as (15·Σ) div 100, scores
    * seeded at 10⁶, 3 fixed rounds, and between rounds the q251/q250
    * DIVIDE-ONLY max-normalization (s div greatest(mx div 10⁶, 1) —
    * no pre-division product, so no overflow at ANY degree/scale;
    * ranking unchanged). Non-negative operands: Spark div ≡ DuckDB //.
    *
    * Scale: per round one src-keyed join + one dst-keyed
    * partial-combining sum + a broadcast 1-row max — q93's shuffle
    * shape plus the q250 max frame; per-round localCheckpoint. */
  def katzCentrality(edges: DataFrame, iters: Int = 3): DataFrame = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .persist()
    var s = sym.select(col("src").as("node")).distinct()
      .select(col("node"), lit(1000000L).as("s"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      // Round 18: s is a checkpointed leaf, so the max is a 1-row
      // driver collect (the hits() maxScalar discipline) — drops the
      // per-round broadcast-exchange job; same integer, same div.
      val mx = math.max(maxScalar(s, "s"), 1L)
      val sn = s.select(col("node").as("src"),
        expr(s"s div greatest(${mx}L div 1000000, 1)").as("sn"))
      s = sym.join(sn, "src")
        .groupBy(col("dst").as("node"))
        .agg(expr("1000000 + (15 * sum(sn)) div 100").as("s"))
        .localCheckpoint()
    }
    val out = s.select(col("node"), col("s").as("score"))
    sym.unpersist()
    out
  }

  def q262Katz(spark: SparkSession, dir: String): DataFrame =
    katzCentrality(coEdges25(spark, dir)).orderBy("node")

  // ---------------------------------------------------------------- q250

  /** Q250: HITS hubs & authorities (Kleinberg 1999, public) over the
    * customer→part purchase BIPARTITE graph — hubs = customers whose
    * baskets concentrate on authoritative parts, authorities = parts
    * bought by strong hubs: the mutual-reinforcement centrality a
    * single PageRank score can't express on bipartite structure.
    *
    * ENGINE-SHARED integer form (the q93/q140 discipline): scores
    * live in e6, each half-round is one edge-keyed join + sum, and
    * normalization is BY MAX with truncating div — (x·10⁶) div max —
    * instead of the classical L2 norm (an IEEE sqrt both engines
    * would have to reproduce bit-for-bit); max-normalization
    * preserves the ranking, keeps every operand BIGINT, and makes a
    * fixed 3 rounds bit-identical in any engine. Operands are
    * non-negative so Spark `div` ≡ DuckDB `//`. Overflow bound:
    * raw·10⁶ ≤ degree·10¹² — safe to per-node degree ~9·10⁶; beyond
    * that, drop the score scale an order of magnitude.
    *
    * Scale: edges are one distinct projection of the order join; each
    * round is two edge-keyed partial-combining join+aggregates plus a
    * broadcast 1-row max (the PageRank shuffle shape); per-round
    * localCheckpoint. Returns (hub scores, authority scores). */
  /** Driver-side integer MAX over a (small, materialized) frame — the
    * 1-row collect the max-normalized loops share; 1 on an empty/all-
    * null frame (whose downstream frame is empty regardless). */
  private def maxScalar(df: DataFrame, c: String): Long = {
    val r = df.agg(max(col(c))).collect()(0)
    if (r.isNullAt(0)) 1L else r.getLong(0)
  }

  def hits(edges: DataFrame, rounds: Int = 3): (DataFrame, DataFrame) = {
    require(rounds >= 1)
    val e = edges.select(col("hub"), col("auth")).localCheckpoint()
    var auth = e.select(col("auth")).distinct()
      .select(col("auth"), lit(1000000L).as("a")).localCheckpoint()
    var hub: DataFrame = null
    // Round 18 (guide §1.2 — don't compute twice): each half-round
    // used to run its join+aggregate SUBTREE twice — once under
    // `crossJoin(broadcast(agg(max)))` (the broadcast job executes the
    // whole un-materialized subtree) and once for the scored frame.
    // Now the raw-score frame materializes ONCE (the localCheckpoint
    // that the iterative-loop rule demands anyway) and the max is a
    // 1-row collect over that leaf (the sketchCascade driver-scalar
    // precedent — never a data-sized collect). The normalized frame is
    // a pure projection of the leaf, referenced once per round, so it
    // needs no checkpoint of its own. Values identical: same integer
    // max, same div. Plan: 4 join+agg executions/round → 2.
    for (_ <- 0 until rounds) {
      val hraw = e.join(auth, "auth").groupBy("hub")
        .agg(sum(col("a")).as("raw")).localCheckpoint()
      val hmx = maxScalar(hraw, "raw") // 1 on an empty graph (frame empty anyway)
      hub = hraw.select(col("hub"),
        expr(s"(raw * 1000000) div ${hmx}L").as("h"))
      val araw = e.join(hub, "hub").groupBy("auth")
        .agg(sum(col("h")).as("raw")).localCheckpoint()
      val amx = maxScalar(araw, "raw")
      auth = araw.select(col("auth"),
        expr(s"(raw * 1000000) div ${amx}L").as("a"))
    }
    (hub, auth)
  }

  def q250Hits(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
    val o = load(spark, dir, "orders")
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_custkey").as("hub"), col("l_partkey").as("auth"))
      .distinct()
    val (hub, auth) = hits(edges, rounds = 3)
    def top(df: DataFrame, idc: String, sc: String,
        kind: String): DataFrame = {
      val ord = Seq(col(sc).desc, col(idc))
      df.orderBy(ord: _*).limit(20)
        .withColumn("rank", org.apache.spark.sql.functions.row_number()
          .over(org.apache.spark.sql.expressions.Window
            .orderBy(ord: _*)).cast("long"))
        .select(lit(kind).as("kind"), col("rank"),
          col(idc).cast("long").as("node_id"),
          col(sc).as("score_e6"))
    }
    top(auth, "auth", "a", "authority")
      .unionAll(top(hub, "hub", "h", "hub"))
      .orderBy("kind", "rank")
  }

  /** PERSONALIZED PageRank — q93's recursion with the teleport mass
    * restricted to a SEED set: r(v) = 10⁶·[v ∈ seeds], s₀ = r,
    * s_{k+1}(v) = (15·r(v)) div 100 + (85·Σ_{u→v} s_k(u) div d(u)) div
    * 100. Scores measure proximity TO THE SEEDS ("suppliers related to
    * this watchlist", "docs related to these references") rather than
    * global centrality — the recommendation/expansion primitive plain
    * PageRank can't express. Same integer-floor discipline ⇒ a fixed
    * iteration count is bit-identical in any engine (operands
    * non-negative, so Spark `div` ≡ DuckDB `//`).
    *
    * Scale shape is q93's: per round one src-keyed join against the
    * slim score frame + one dst-keyed sum, then a LEFT join back onto
    * the (checkpointed) reset frame so zero-in-degree nodes keep their
    * teleport-only mass; per-round localCheckpoint (iterative-loop
    * rule). */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 5): DataFrame = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
      .localCheckpoint()
    val resetAll = deg.select(col("src").as("node"))
      .join(seeds.select(col("node"), lit(1L).as("__seed")),
        Seq("node"), "left")
      .select(col("node"),
        when(col("__seed").isNotNull, lit(1000000L)).otherwise(lit(0L))
          .as("r"))
      .localCheckpoint()
    var scores = resetAll.select(col("node"), col("r").as("s"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(deg, "src")
        .join(scores.select(col("node").as("src"), col("s")), "src")
        .select(col("dst").as("node"), expr("s div d").as("c"))
        .groupBy("node").agg(sum(col("c")).as("cs"))
      scores = resetAll.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr("(15 * r) div 100 + (85 * coalesce(cs, 0L)) div 100")
            .as("s"))
        .localCheckpoint()
    }
    scores.select(col("node"), col("s").as("score"))
  }

  /** Q140: PPR over the co-supply graph from the `node % 10 == 0`
    * watchlist. */
  def q140Ppr(spark: SparkSession, dir: String): DataFrame = {
    val edges = coEdges25(spark, dir)
    val seeds = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct().filter(col("node") % 10 === 0)
    personalizedPageRank(edges, seeds).orderBy("node")
  }

  // ---------------------------------------------------------------- q143

  /** Synchronous LABEL PROPAGATION community detection, fixed rounds —
    * the modularity-free community primitive (Raghavan et al. 2007):
    * every node starts labelled with itself; each round it adopts the
    * label carried by MOST of its neighbours, ties broken by the
    * smallest label. Distinct from connected components (which merge
    * everything reachable) and k-core (which prunes) — LPA finds dense
    * sub-communities INSIDE one component.
    *
    * Determinism (the q93/q131 discipline): synchronous rounds + an
    * integer argmax with a total tie order ((count desc, label asc) —
    * selected via `min(struct(-c, lab))`, no engine-arbitrary
    * `arg_min`), fixed round count ⇒ bit-identical labels in any
    * engine, converged or not, which is what puts a community
    * algorithm under the hard SQL oracle.
    *
    * Scale: per round one src-keyed join of the symmetric edge list
    * against the slim (node, label) frame, one (dst, label) count agg,
    * one dst-keyed argmax agg — all partial-combining shuffles on node
    * ids, never adjacency lists in a single buffer. Per-round
    * localCheckpoint (iterative-loop rule). Every node has ≥1
    * neighbour by construction (node set = edge endpoints), so the
    * vote frame preserves the node set each round. */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.select(col("node").as("src"), col("lab")), "src")
        .groupBy(col("dst"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("m"))
        .select(col("dst").as("node"), col("m.lab").as("lab"))
        .localCheckpoint()
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** Q143: 3 LPA rounds over the co-supply graph — memoized (the
    * coEdges25 pattern): q155's modularity audit re-reads the same
    * labels, so one Verify/Bench run computes the propagation once. */
  val lpa25: Memo[DataFrame] = Memo("lpa25") { (spark, dir) =>
    labelPropagation(coEdges25(spark, dir), rounds = 3).localCheckpoint(true)
  }

  def q143Lpa(spark: SparkSession, dir: String): DataFrame =
    lpa25(spark, dir).orderBy("node")

  // ---------------------------------------------------------------- q155

  /** Q155: MODULARITY audit of the q143 partition — per community:
    * size, internal edge count, degree mass, and the exact integer
    * modularity contribution
    *   q_num(c) = 4m·e_in(c) − K(c)²,   Q = Σ q_num / 4m²
    * (Newman–Girvan modularity with 4m² cleared — all BIGINT, D6).
    * The evaluate-your-clustering operator: LPA (or any community
    * assignment) is only as good as its modularity, and emitting the
    * per-community decomposition shows WHICH communities are
    * under-dense. q_e6 can be negative (worse-than-random community);
    * Spark `div` and DuckDB `//` BOTH truncate toward zero, so the
    * signed division gates (it is Math.floorDiv that differs —
    * q132/q146 lesson).
    *
    * Scale: two node-keyed joins of the edge list against the slim
    * label frame, three partial-combining aggs, one 1-row broadcast
    * (m). Nothing holds a community in one buffer. */
  def modularityByCommunity(edges: DataFrame, labels: DataFrame)
      : DataFrame = {
    val lab = labels.select(col("node"), col("community"))
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val eIn = edges
      .join(lab.select(col("node").as("u"), col("community").as("cu")),
        "u")
      .join(lab.select(col("node").as("v"), col("community").as("cv")),
        "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val kc = deg.join(lab, "node")
      .groupBy("community")
      .agg(sum(col("d")).as("k_sum"), count(lit(1)).as("n_nodes"))
    val mrow = edges.agg(count(lit(1)).as("m"))
    kc.join(eIn, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(mrow))
      .select(col("community"), col("n_nodes"), col("k_sum"),
        col("e_in"),
        expr("4 * m * e_in - k_sum * k_sum").as("q_num"),
        expr("((4 * m * e_in - k_sum * k_sum) * 1000000)" +
          " div (4 * m * m)").as("q_e6"))
  }

  def q155Modularity(spark: SparkSession, dir: String): DataFrame =
    modularityByCommunity(coEdges25(spark, dir), lpa25(spark, dir))
      .orderBy("community")

  // ---------------------------------------------------------------- q305

  /** Synchronous one-level LOUVAIN modularity ascent, fixed rounds
    * (Blondel et al. 2008 §2, the parallel/synchronous variant) — the
    * modularity OPTIMIZER beside the q143 label-vote heuristic and
    * the q155 evaluator: every node starts as its own community; each
    * round every node moves (simultaneously) to the candidate
    * community with the best modularity gain. Gains are rationals
    * with the fixed positive denominator 2m², so the argmax runs on
    * the cross-multiplied INTEGER score
    *
    *   score(i→C) = 2m·l(i,C) − k_i·(Σtot(C) − [i∈C]·k_i)
    *
    * under the (score desc, community asc) total tie order (the q143
    * min-struct discipline) — candidate set = neighbor communities ∪
    * the node's own (staying is always a candidate, at l = 0 when no
    * neighbor shares it). Fixed 3 synchronous rounds ⇒ bit-identical
    * labels in any engine, converged or not — what puts a modularity
    * optimizer under the hard SQL oracle. GraphSpec pins the planted
    * two-clique-bridge golden (the partition LPA's min-tie votes leak
    * across) and that the q155 objective does not regress vs LPA on
    * the fixture graph.
    *
    * Scale: per round one dst-keyed join (neighbor-community links),
    * two slim rollups (community degree mass, candidate dedup), one
    * node-keyed argmax — all partial-combining shuffles on node ids;
    * per-round localCheckpoint (iterative-loop rule). */
  /** Shared Louvain prep: symmetric edge list, degrees, edge count,
    * singleton seed labels — all checkpointed once per run. */
  private def louvainPrep(edges: DataFrame)
      : (DataFrame, DataFrame, Long, DataFrame) = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    val deg = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("d"))
      .localCheckpoint() // read every round (links, tot, argmax)
    // m as a driver scalar (round 18): every round used to
    // crossJoin(broadcast(mrow)) — one broadcast-exchange job per
    // round for a count that never changes. One 1-row collect here;
    // m is conserved by contraction so the level-2 ascent shares it.
    val m = edges.count()
    // comm0 is a pure projection of the checkpointed deg leaf — no
    // checkpoint needed (round 18; the loop rule guards growing
    // lineage, not leaf projections).
    val comm0 = deg.select(col("node"), col("node").as("community"))
    (sym, deg, m, comm0)
  }

  /** One synchronous Louvain round — ONE body for [[louvainRounds]]
    * (q305) and the q308 convergence audit.
    *
    * Round 18 (guide §2.3/§2.4 — fewer shuffles, same values):
    *  - deg and the node's own community join the candidate table as
    *    ONE node-keyed frame `ns` (was two separate node joins);
    *  - the own-community fallback row (l = 0) unions straight into
    *    the argmax WITHOUT the former groupBy(node, cand).max(l)
    *    dedup shuffle: when (node, own) also appears in links, its
    *    links row has l ≥ 1 so (2m·l − …) strictly exceeds the l = 0
    *    row's score (m ≥ 1 whenever links is non-empty) — the
    *    duplicate is lexicographically dominated in min(struct(−score,
    *    cand)) by the SAME cand's true row and can never change the
    *    min. Exchanges per round: 4 → 3; per-round join count 4 → 3
    *    (GraphSpec pins output equality on the planted goldens, and
    *    the q305/q311 oracles hash-gate the fixture). */
  private def louvainRoundBody(sym: DataFrame, deg: DataFrame,
      m: Long, comm: DataFrame): DataFrame = {
    val ns = comm.join(deg, "node") // (node, community, d)
    val links = sym
      .join(comm.select(col("node").as("dst"),
        col("community").as("cand")), "dst")
      .groupBy(col("src").as("node"), col("cand"))
      .agg(count(lit(1)).as("l"))
    val tot = ns.groupBy(col("community").as("cand"))
      .agg(sum(col("d")).as("tot"))
    links
      .unionByName(ns.select(col("node"),
        col("community").as("cand"), lit(0L).as("l")))
      .join(tot, "cand")
      .join(ns.select(col("node"), col("community").as("own"),
        col("d")), "node")
      .withColumn("score", expr(s"2 * ${m}L * l - d * (tot - " +
        "CASE WHEN cand = own THEN d ELSE 0 END)"))
      .groupBy("node")
      .agg(min(struct((-col("score")).as("ns"), col("cand")))
        .as("mm"))
      .select(col("node"), col("mm.cand").as("community"))
  }

  private def louvainRound(sym: DataFrame, deg: DataFrame,
      m: Long, comm: DataFrame): DataFrame =
    louvainRoundBody(sym, deg, m, comm)
      .localCheckpoint() // the iterative-loop rule

  def louvainRounds(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val (sym, deg, m, comm0) = louvainPrep(edges)
    var comm = comm0
    for (_ <- 1 to rounds)
      comm = louvainRound(sym, deg, m, comm)
    comm
  }

  /** Q308: LOUVAIN CONVERGENCE AUDIT (the q265 PR-convergence
    * discipline applied to the community optimizer): per synchronous
    * round — nodes, nodes that MOVED community, and distinct
    * communities after the round. The "is 3 rounds enough" readout
    * the fixed-round choice rests on: a plateau in n_moved /
    * n_communities means extra rounds buy churn, not structure.
    * Counts are exact integers over the same round frames q305
    * gates, so the audit gates too. */
  def q308LouvainConvergence(spark: SparkSession, dir: String)
      : DataFrame = {
    val (sym, deg, m, comm0) = louvainPrep(coEdges25(spark, dir))
    var comm = comm0
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    for (r <- 1 to 3) {
      val next = louvainRound(sym, deg, m, comm)
      // ONE action per round (round 17, guide §1.2): nodes, moved and
      // distinct-community counts come out of a single aggregate over
      // the (next ⋈ prev) node join — previously three separate
      // driver actions (count / filter-count / distinct-count) each
      // re-ran the join per round.
      val a = next.alias("a")
        .join(comm.alias("b"), col("a.node") === col("b.node"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a.community") =!= col("b.community"), 1L)
            .otherwise(0L)).as("moved"),
          countDistinct(col("a.community")).as("nc"))
        .collect().head
      rows += ((r.toLong, a.getLong(0), a.getLong(1), a.getLong(2)))
      comm = next
    }
    import spark.implicits._
    rows.toSeq.toDF("round", "n_nodes", "n_moved", "n_communities")
      .orderBy("round")
  }

  /** Q305: 3 Louvain rounds over the co-supply graph — the community
    * detector production entity-resolution actually runs, on the same
    * memoized edges q143/q155 read, so the q155 evaluator prices both
    * partitions of ONE graph. Round 17: reads the level-1 labels
    * straight from `memo:louvain2_state` — its `c1` IS
    * louvainRounds(coEdges25, 3) (q311's level-1 input), so q305 was
    * re-running the identical 3-round ascent a second time per
    * Verify/Bench pass (the q33g components precedent: one
    * computation, N view queries). */
  def q305Louvain(spark: SparkSession, dir: String): DataFrame =
    louvain2State(spark, dir)._2.orderBy("node")

  // ---------------------------------------------------------------- q311

  /** CONTRACT the level-1 partition into a weighted super-node graph
    * (Blondel et al. 2008 §2 phase 2): super-edge weight sw = original
    * edges between two communities, self-loop weight sl = intra-
    * community edges. Everything stays integer edge COUNTS, so the
    * level-2 ascent gates like level 1. */
  /** The contraction rollup, LAZY (split out for plan dumps). */
  private def louvainContractBody(edges: DataFrame,
      comm: DataFrame): DataFrame =
    edges
      .join(comm.select(col("node").as("u"),
        col("community").as("cu")), "u")
      .join(comm.select(col("node").as("v"),
        col("community").as("cv")), "v")
      .select(least(col("cu"), col("cv")).as("a"),
        greatest(col("cu"), col("cv")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))

  private def louvainContract(edges: DataFrame, comm: DataFrame)
      : (DataFrame, DataFrame) = {
    // Round 18 (guide §2.4): sup and self used to be two separate
    // groupBy shuffles + checkpoints over the same e2 join (which
    // therefore ran twice). One (a ≤ b)-keyed rollup covers both —
    // a = b rows ARE the intra-community edges — and the two outputs
    // become filters over the single checkpointed leaf. Same counts.
    val both = louvainContractBody(edges, comm)
      .localCheckpoint()
    val sup = both.filter(col("a") =!= col("b"))
      .select(col("a"), col("b"), col("w").as("sw"))
    val self = both.filter(col("a") === col("b"))
      .select(col("a"), col("w").as("sl"))
    (sup, self)
  }

  /** One-level WEIGHTED synchronous Louvain over the contracted graph
    * — [[louvainRound]]'s exact formula with weighted links (l =
    * Σ sw into the candidate community) and weighted degrees (k_i =
    * 2·sl_i + Σ sw_i; the self-loop counts twice, stays with the node
    * wherever it moves, and never enters l — the standard weighted
    * gain). m is UNCHANGED by contraction (total weight is conserved),
    * so the same mrow broadcasts. All integer, same (score desc,
    * community asc) argmax. */
  private def louvainWeightedRounds(nodes: DataFrame, sup: DataFrame,
      self: DataFrame, m: Long, rounds: Int): DataFrame = {
    // sym/comm0 are projections/unions of checkpointed leaves (sup and
    // deg) — no checkpoint needed (round 18; same rationale as
    // louvainPrep). The round rewrite mirrors louvainRoundBody: ONE
    // node-state join, NO candidate-dedup shuffle (the l = 0 own row
    // is dominated — see louvainRoundBody), m as a driver scalar.
    val sym = sup
      .select(col("a").as("src"), col("b").as("dst"), col("sw"))
      .unionAll(sup
        .select(col("b").as("src"), col("a").as("dst"), col("sw")))
    val deg = nodes
      .join(sym.groupBy(col("src").as("node"))
        .agg(sum(col("sw")).as("dw")), Seq("node"), "left")
      .join(self.select(col("a").as("node"), col("sl")),
        Seq("node"), "left")
      .select(col("node"),
        (coalesce(col("dw"), lit(0L))
          + lit(2L) * coalesce(col("sl"), lit(0L))).as("d"))
      .localCheckpoint() // read every round (links, tot, argmax)
    var comm = deg.select(col("node"), col("node").as("community"))
    for (_ <- 1 to rounds) {
      val ns = comm.join(deg, "node") // (node, community, d)
      val links = sym
        .join(comm.select(col("node").as("dst"),
          col("community").as("cand")), "dst")
        .groupBy(col("src").as("node"), col("cand"))
        .agg(sum(col("sw")).as("l"))
      val tot = ns.groupBy(col("community").as("cand"))
        .agg(sum(col("d")).as("tot"))
      comm = links
        .unionByName(ns.select(col("node"),
          col("community").as("cand"), lit(0L).as("l")))
        .join(tot, "cand")
        .join(ns.select(col("node"), col("community").as("own"),
          col("d")), "node")
        .withColumn("score", expr(s"2 * ${m}L * l - d * (tot - " +
          "CASE WHEN cand = own THEN d ELSE 0 END)"))
        .groupBy("node")
        .agg(min(struct((-col("score")).as("ns"), col("cand")))
          .as("mm"))
        .select(col("node"), col("mm.cand").as("community"))
        .localCheckpoint() // the iterative-loop rule
    }
    comm
  }

  /** Memoized two-level Louvain state (`memo:louvain2_state` — q311 +
    * q311b share one run): (edges, level-1 labels, super-edges,
    * self-loops, per-original-node level-2 labels). */
  private[operators] val louvain2State
      : Memo[(DataFrame, DataFrame, DataFrame, DataFrame, DataFrame)] =
    Memo("louvain2_state", Some(louvain2PlanFrames _)) { (spark, dir) =>
      val edges = coEdges25(spark, dir)
      val (c1, sup, self, map2) = louvainTwoLevelOf(edges)
      (edges, c1, sup, self, map2.localCheckpoint())
    }

  /** The full two-level run over ANY edge list — (c1, sup, self,
    * map2) where map2 = (node, community = level-1, c2 = level-2);
    * ONE body for the memoized state and the GraphSpec goldens. */
  private[graft] def louvainTwoLevelOf(edges: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val c1 = louvainRounds(edges, 3) // rounds checkpoint themselves
    val (sup, self) = louvainContract(edges, c1)
    val m = edges.count() // conserved by contraction (driver scalar)
    val nodes = c1.select(col("community").as("node")).distinct()
    val c2 = louvainWeightedRounds(nodes, sup, self, m, 3)
    val map2 = c1
      .join(c2.select(col("node").as("community"),
        col("community").as("c2")),
        Seq("community"))
    (c1, sup, self, map2)
  }

  /** Q311: TWO-LEVEL LOUVAIN (round-15 verdict item 2) — the full
    * Blondel et al. cycle: one-level ascent (q305's gated labels) →
    * community CONTRACTION into a weighted super-node graph →
    * one-level weighted re-ascent. Output per original node: its
    * level-1 and level-2 communities. The level real Louvain gains
    * over single-pass methods: merges one synchronous ascent provably
    * cannot make (two cliques bridged inside a bigger graph — the
    * GraphSpec cliques-of-cliques golden) happen at level 2 because
    * the contracted gain compares whole communities, not single
    * nodes. q311b prices the claim: the q155 objective must not
    * decrease level 1 → level 2 (spec pin).
    *
    * Scale: contraction is two label joins + a pair rollup (edges
    * shuffle once); the level-2 graph is communities-sized — the
    * whole re-ascent runs on a frame that SHRINKS with every level,
    * which is exactly why Louvain scales. */
  def q311LouvainTwoLevel(spark: SparkSession, dir: String)
      : DataFrame = {
    val (_, _, _, _, map2) = louvain2State(spark, dir)
    map2.select(col("node"), col("community").as("community_l1"),
        col("c2").as("community_l2"))
      .orderBy("node")
  }

  /** Q311b: CONTRACTION AUDIT — the one-row readout of what level 2
    * bought: super-node/super-edge/intra-edge counts and the EXACT
    * integer total modularity (q155's Σ q_num, scaled e6 over 4m²)
    * of the level-1 and level-2 partitions of the ORIGINAL graph.
    * q2_e6 ≥ q1_e6 on the fixture is the measured "contraction did
    * not hurt" fact the two-level design rests on (spec-pinned). */
  def q311bLouvainContractAudit(spark: SparkSession, dir: String)
      : DataFrame = {
    val (edges, c1, sup, self, map2) = louvain2State(spark, dir)
    def qn(labels: DataFrame): DataFrame =
      modularityByCommunity(edges, labels)
        .agg(sum(col("q_num")).as("qn"))
    val q1 = qn(c1)
    val q2 = qn(map2.select(col("node"), col("c2").as("community")))
    val mrow = edges.agg(count(lit(1)).as("m"))
    val nsup = c1.select(col("community")).distinct()
      .agg(count(lit(1)).as("n_super_nodes"))
    val nse = sup.agg(count(lit(1)).as("n_super_edges"))
    val nin = self.agg(coalesce(sum(col("sl")), lit(0L))
      .as("intra_edges"))
    nsup.crossJoin(nse).crossJoin(nin)
      .crossJoin(q1.select(col("qn").as("q1n")))
      .crossJoin(q2.select(col("qn").as("q2n")))
      .crossJoin(broadcast(mrow))
      .select(col("n_super_nodes"), col("n_super_edges"),
        col("intra_edges"),
        expr("(q1n * 1000000) div (4 * m * m)").as("q1_e6"),
        expr("(q2n * 1000000) div (4 * m * m)").as("q2_e6"))
  }

  // ---------------------------------------------------------------- q167

  /** Q167: DEGREE ASSORTATIVITY — the Pearson correlation of endpoint
    * degrees across (directed-symmetrized) edges: r > 0 means hubs
    * link hubs (social-style topology), r < 0 means hubs link leaves
    * (star/infrastructure-style). The one-number topology audit that
    * complements q155 (which evaluates a PARTITION; this audits the
    * raw graph) — and it decides whether degree-based partitioning
    * strategies will skew.
    *
    * Determinism: on a symmetric edge list Σdu = Σdv and Σdu² = Σdv²,
    * so r = (n·Σdudv − (Σdu)²) / (n·Σdu² − (Σdu)²) — exact BIGINT
    * power sums (the q51 discipline; degrees are integers, no
    * quantization at all), one identical-op double division at the
    * end, and an INTEGER equality guard for the 0/0 regular-graph
    * case. Sums stay under 2⁵³ to ~10⁷ edges at hub degree 10³
    * (double-exact division operands; DECIMAL path documented
    * beyond). Scale: two node-keyed degree joins + one 1-row agg. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("src"), col("d").as("du")), "src")
      .join(deg.select(col("src").as("dst"), col("d").as("dv")), "dst")
      .agg(count(lit(1)).as("n"), sum(col("du")).as("sx"),
        sum(expr("du * dv")).as("sxy"),
        sum(expr("du * du")).as("sxx"))
      .select(col("n"), col("sx"), col("sxy"), col("sxx"),
        expr("CASE WHEN n * sxx = sx * sx THEN 0.0 ELSE" +
          " (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
          "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /" +
          " (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
          "  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END").as("r"))
  }

  def q167Assortativity(spark: SparkSession, dir: String): DataFrame =
    degreeAssortativity(coEdges25(spark, dir))

  // ---------------------------------------------------------------- q175

  /** Q175: LINK PREDICTION by the Resource-Allocation index — for
    * every NON-adjacent pair (a, b), Σ over common neighbours w of
    * 1/deg(w), in exact integer millionths (10⁶ div deg(w) — the q80
    * integer-surrogate discipline for a log/reciprocal score: RA is
    * Adamic–Adar with 1/d in place of 1/log d, same ranking intent,
    * exactly representable). The "which edge forms next" primitive of
    * graph-based recommenders — and the inverse of q91's closure view:
    * q91 counts closed wedges, this scores the OPEN ones.
    *
    * Runs on the item CO-PURCHASE graph (q94's basket machinery,
    * co ≥ 3), not the co-supply graph: minShared=25 co-supply is a
    * CLIQUE below sf0.1 (every wedge closed, nothing to predict);
    * the co-purchase graph has open wedges at every fixture SF.
    *
    * Scale: wedge enumeration is C(deg(w), 2) per node — the q91
    * fan-out class; at hub-heavy corpus scale the standard df-cut
    * (cap or drop top-degree hubs, whose 1/deg contribution is
    * negligible by construction) bounds it. Degree frame broadcasts;
    * the anti-join removes existing edges; the gated output is the
    * top-100 under the (ra_ppm desc, n_common desc, a, b) total
    * order — a TakeOrdered, no global sort materialization. */
  def raLinkPrediction(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
    val deg = sym.groupBy(col("src").as("w")).agg(count(lit(1)).as("d"))
    val adj = sym.select(col("src").as("w"), col("dst").as("n"))
    adj.as("x").join(adj.as("y"),
        col("x.w") === col("y.w") && col("x.n") < col("y.n"))
      .select(col("x.w").as("w"), col("x.n").as("a"), col("y.n").as("b"))
      .join(broadcast(deg), "w")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(expr("1000000 div d")).as("ra_ppm"))
      .join(edges.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
  }

  /** Shares the q94/q104 memoized basket pair set (minCo=2,
    * localCheckpoint'ed) and filters to co ≥ 3 — a superset filter, so
    * the expensive C(basket,2) explode runs once per session across
    * all three basket queries (the exactPairs discipline; an inline
    * rebuild measured 10 s/run at sf0.1 vs ~0 for the wedge work). */
  def q175RaLinkpred(spark: SparkSession, dir: String): DataFrame = {
    val (_, co2) = basketCo(spark, dir)
    val edges = co2.filter(col("co") >= 3L)
      .select(col("a").as("u"), col("b").as("v"))
    raLinkPrediction(edges)
      .orderBy(col("ra_ppm").desc, col("n_common").desc,
        col("a"), col("b"))
      .limit(100)
  }

  /** q91/q93/q99 all analyze the SAME co-supply graph (minShared=25):
    * memoized per (session, dir) so one Verify/Bench run builds the
    * edge list once (the Dedup.exactPairs pattern — eager
    * localCheckpoint survives the bench's between-query clearCache,
    * and downstream persists/loops see a materialized leaf, not the
    * whole part–supplier projection subtree). */
  val coEdges25: Memo[DataFrame] =
    Memo("co_edges25", Some(coEdges25PlanFrames _)) { (spark, dir) =>
      coSupplyEdges(load(spark, dir, "lineitem"), minShared = 25L)
        .localCheckpoint(true)
    }

  // ---------------------------------------------------------------- q94

  /** Item-item co-purchase similarity — the classic "customers who
    * bought X also bought Y" recommender primitive: for every part
    * pair, the exact Jaccard of their buyer sets, in integer
    * millionths (co·10⁶ div (|A|+|B|−co) — D6, no IEEE division).
    *
    * Scale: baskets (customer → distinct part set) explode to ordered
    * pairs exactly like [[coSupplyEdges]] — fan-out C(basket,2) per
    * customer, bounded by basket size², never corpus size; buyer-set
    * sizes join back from a part-keyed count frame (broadcast: part
    * dimension ≪ fact table). minCo prunes the pair tail BEFORE the
    * size join. Top-k by (jaccard, pair) is a TakeOrdered — no global
    * sort materialization. */
  def itemSimilarity(lineitem: DataFrame, orders: DataFrame,
      minCo: Long = 2L, k: Int = 100): DataFrame = {
    val bought = boughtItems(lineitem, orders)
    itemSimilarityFrom(bought, coCounts(bought, minCo), k)
  }

  /** Distinct (customer, item) purchase pairs — the basket base frame
    * q94 and q104 both derive everything from. */
  private def boughtItems(lineitem: DataFrame,
      orders: DataFrame): DataFrame =
    lineitem
      .join(orders.select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey")), "l_orderkey")
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()

  /** Ordered co-purchase pair counts (a < b, co ≥ minCo) from the
    * basket base frame — the expensive C(basket,2) enumeration, capped
    * per [[groupedOrderedPairs]] (whale baskets take the chunk-tiled
    * join; exact for any cap). */
  private[graft] def coCounts(bought: DataFrame, minCo: Long,
      cap: Int = DefaultBasketCap): DataFrame =
    groupedOrderedPairs(
      bought.select(col("cust").as("k"), col("item").as("it")), cap)
      .groupBy("a", "b").agg(count(lit(1)).as("co"))
      .filter(col("co") >= minCo)

  private def itemSimilarityFrom(bought: DataFrame, co: DataFrame,
      k: Int): DataFrame = {
    val sizes = bought.groupBy("item").agg(count(lit(1)).as("nb"))
    co.join(broadcast(sizes.select(col("item").as("a"),
        col("nb").as("na"))), "a")
      .join(broadcast(sizes.select(col("item").as("b"),
        col("nb").as("nb"))), "b")
      .select(col("a").as("item_a"), col("b").as("item_b"), col("co"),
        expr("(co * 1000000) div (na + nb - co)").as("jaccard_e6"))
      .orderBy(col("jaccard_e6").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** q94 and q104 share the (bought, co) subtree — the basket build
    * plus the C(basket,2) pair explode is ~all of either query's cost.
    * Memoized per (session, dir), eager localCheckpoint (the
    * Dedup.exactPairs pattern). */
  private[operators] val basketCo: Memo[(DataFrame, DataFrame)] =
    Memo("basket_co", Some(basketCoPlanFrames _)) { (spark, dir) =>
      val bought = boughtItems(load(spark, dir, "lineitem"),
        load(spark, dir, "orders")).localCheckpoint(true)
      (bought, coCounts(bought, minCo = 2L).localCheckpoint(true))
    }

  /** LAZY build-stage frames for plan dumps (round 18, verdict r17
    * item 3 — the expensive memo builds had no dumpable plans). The
    * co_counts stage is dumped over the materialized bought leaf,
    * exactly as the memo build executes it. */
  private def basketCoPlanFrames(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = Seq(
    "bought" -> boughtItems(load(spark, dir, "lineitem"),
      load(spark, dir, "orders")),
    "co_counts" -> coCounts(basketCo(spark, dir)._1, minCo = 2L))

  /** co_edges25 build plan (the coSupplyEdges projection). */
  private def coEdges25PlanFrames(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = Seq(
    "edges" -> coSupplyEdges(load(spark, dir, "lineitem"),
      minShared = 25L))

  /** louvain2 build plans: the level-1 round-1 body over the prep
    * leaves, the contraction rollup, and one weighted level-2 round
    * body shape is identical to level 1 — dumped via the real
    * builders' lazy bodies. */
  private def louvain2PlanFrames(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val edges = coEdges25(spark, dir)
    val (sym, deg, m, comm0) = louvainPrep(edges)
    val (_, c1, _, _, _) = louvain2State(spark, dir)
    Seq(
      "l1_round1" -> louvainRoundBody(sym, deg, m, comm0),
      "contract" -> louvainContractBody(edges, c1))
  }

  def q94ItemSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val (bought, co) = basketCo(spark, dir)
    itemSimilarityFrom(bought, co, k = 100)
  }

  // ---------------------------------------------------------------- q99

  /** Bounded-depth BFS shortest-path distances from a seed set — the
    * "reachable within k hops" primitive (blast-radius, entity
    * expansion). Fixed `iters` rounds of min-distance propagation:
    *   d₀ = 0 on seeds;  d_{k+1}(v) = min(d_k(v), min_{u~v} d_k(u)+1)
    * Every step is integer MIN — deterministic, so the SQL oracle
    * unrolls the same k rounds as chained CTEs (the q93 discipline).
    *
    * Scale: each round is one src-keyed join of the (slim) frontier
    * against the edge list + one MIN agg — the PageRank shuffle pair;
    * rounds localCheckpoint (iterative-loop rule). The distance frame
    * never exceeds the reachable node set. A FIXED depth is the point:
    * unbounded BFS is [[Dedup.connectedComponentsStar]]'s job. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    val sym = edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))
      .persist()
    var d = seeds.select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to iters) {
      d = d.unionAll(
        sym.join(d.select(col("node").as("src"), col("dist")), "src")
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    d
  }

  /** K-CORE PEEL: `rounds` synchronous rounds of removing every node
    * of degree < k and recomputing degrees. Peeling is monotone (the
    * survivor set only shrinks), so once a round removes nothing the
    * result is the k-core — the maximal subgraph in which every node
    * has degree ≥ k, the standard graph-cleaning primitive (peel
    * leaves/noise before community detection or embedding training).
    * A FIXED round count is the q93/q99 discipline: both engines run
    * EXACTLY `rounds` rounds, so the result is deterministic whether
    * or not the peel has converged; a caller that needs the k-core
    * itself picks a round count at or past the peeling depth.
    *
    * Scale shape per round: one partial+final degree agg over the
    * surviving edge list + two broadcast-able anti-joins; edges
    * localCheckpoint per round (iterative-loop rule — lineage growth
    * would otherwise re-analyze an O(rounds)-deep plan). Peeling depth
    * is O(log n) on real sparse graphs.
    *
    * Returns the surviving edge list (u, v). */
  def kCorePeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    var cur = edges.select(col("u"), col("v")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val deg = cur.select(col("u").as("n"))
        .unionAll(cur.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val bad = deg.filter(col("d") < k).select(col("n"))
      cur = cur
        .join(bad.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
        .join(bad.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
        .select(col("u"), col("v"))
        .localCheckpoint()
    }
    cur
  }

  /** One k-truss support pass: per surviving edge, the count of
    * triangles through it — then peel edges with support < k−2.
    *
    * DEGREE-ORIENTED (round-14 verdict item 8, the lesson from the
    * co-purchase graph blowing up at sf0.01): each edge directs toward
    * its (degree, id)-larger endpoint, every triangle is enumerated
    * exactly ONCE at its smallest-degree apex (wedge pairs of
    * out-edges + a closing oriented edge — the q91 census shape), and
    * each triangle credits all three of its edges. Support counts are
    * orientation-invariant, so the peel is unchanged (GraphSpec pins
    * a planted hub-star + triangle graph against the naive unoriented
    * count); the fan-out drops from Σ deg(u) per EDGE (a whale hub
    * squares) to Σ C(outdeg, 2) per APEX with outdeg ≤ O(√m). */
  private def trussPeelRound(cur: DataFrame, k: Long): DataFrame = {
    val deg = cur.select(col("u").as("n"))
      .unionAll(cur.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val dirE = cur
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"),
        when(fwd, struct(col("dv").as("dk"), col("v").as("nk")))
          .otherwise(struct(col("du").as("dk"), col("u").as("nk")))
          .as("kb"))
    val tri = dirE.as("e1")
      .join(dirE.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.kb") < col("e2.kb"))
      .select(col("e1.a").as("ta"), col("e1.b").as("tb"),
        col("e2.b").as("tc"))
      // the {tb, tc} edge is oriented tb→tc (kb ordering transfers)
      .join(dirE.select(col("a").as("tb"), col("b").as("tc")),
        Seq("tb", "tc"), "left_semi")
    val sup = tri.select(explode(array(
        struct(least(col("ta"), col("tb")).as("lu"),
          greatest(col("ta"), col("tb")).as("lv")),
        struct(least(col("ta"), col("tc")).as("lu"),
          greatest(col("ta"), col("tc")).as("lv")),
        struct(least(col("tb"), col("tc")).as("lu"),
          greatest(col("tb"), col("tc")).as("lv")))).as("e"))
      .select(col("e.lu").as("lu"), col("e.lv").as("lv"))
      .groupBy("lu", "lv").agg(count(lit(1)).as("sup"))
    cur
      .withColumn("lu", least(col("u"), col("v")))
      .withColumn("lv", greatest(col("u"), col("v")))
      .join(sup, Seq("lu", "lv"), "left")
      .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
      .select(col("u"), col("v"))
  }

  /** K-TRUSS PEEL: `rounds` synchronous rounds of removing every edge
    * that closes < k−2 triangles among the survivors. Once a round
    * removes nothing the result is the k-truss — the edge-cohesion
    * sibling of the k-core (Cohen 2008, public): trusses are to edges
    * what cores are to nodes, and a k-truss is always inside the
    * (k−1)-core but strictly tighter (a star survives any core radius
    * but no truss). Fixed rounds, the [[kCorePeel]] discipline: both
    * engines run EXACTLY `rounds` rounds, deterministic whether or
    * not converged. */
  def kTrussPeel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    var cur = edges.select(col("u"), col("v")).localCheckpoint()
    for (_ <- 1 to rounds)
      cur = trussPeelRound(cur, k).localCheckpoint()
    cur
  }

  /** Q131: 4 peel rounds at k=3 over the minCo=4 co-purchase graph
    * (the q94 basket machinery, tighter threshold so the graph is
    * sparse enough to actually peel — the memoized minCo=2 `co` frame
    * re-filters for free). Converges inside the 4 rounds at sf0.01,
    * but the oracle equality does NOT depend on that (fixed rounds). */
  def q131KCorePeel(spark: SparkSession, dir: String): DataFrame = {
    val (_, co) = basketCo(spark, dir)
    val edges = co.filter(col("co") >= 4L)
      .select(col("a").as("u"), col("b").as("v"))
    kCorePeel(edges, k = 3L, rounds = 4).orderBy("u", "v")
  }

  /** Q99: co-supply distance from the nation-0 supplier cohort, 4 hops. */
  def q99Bfs(spark: SparkSession, dir: String): DataFrame = {
    val seeds = load(spark, dir, "supplier")
      .filter(col("s_nationkey") === 0)
      .select(col("s_suppkey").as("node"))
    bfsDepth(coEdges25(spark, dir), seeds, iters = 4)
      .orderBy("node")
  }

  // ---------------------------------------------------------------- q104

  /** Q104: ASSOCIATION RULES over co-purchase baskets — support,
    * confidence and lift for directed rules a→b, integer-exact:
    *   conf_e6 = co·10⁶ div n_a
    *   lift_e6 = co·N·10⁶ div (n_a·n_b)    (N = #baskets)
    * The undirected co-occurrence counts are the q94 machinery; each
    * surviving pair emits BOTH directions (rules are asymmetric in
    * confidence). Top-100 by (lift, conf, pair) is a TakeOrdered.
    *
    * Scale: identical shape to [[itemSimilarity]] — basket-bounded
    * fan-out, minCo prune before the size joins, broadcast item-count
    * frames, plus one 1-row broadcast for N. Magnitudes: co ≤ N ≤ 10⁸
    * baskets keeps co·N·10⁶ far under BIGINT range for any co that
    * survives a minCo at that scale. */
  private[graft] def assocRulesFrom(bought: DataFrame, co: DataFrame,
      k: Int): DataFrame = {
    val sizes = bought.groupBy("item").agg(count(lit(1)).as("nb"))
    val nBaskets = bought.select(col("cust")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val directed = co.select(col("a"), col("b"), col("co"))
      .unionAll(co.select(col("b").as("a"), col("a").as("b"), col("co")))
    directed
      .join(broadcast(sizes.select(col("item").as("a"),
        col("nb").as("na"))), "a")
      .join(broadcast(sizes.select(col("item").as("b"),
        col("nb").as("nb"))), "b")
      .crossJoin(broadcast(nBaskets))
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("co").as("support"),
        expr("(co * 1000000) div na").as("conf_e6"),
        expr("(co * n_baskets * 1000000) div (na * nb)").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("conf_e6").desc,
        col("antecedent"), col("consequent"))
      .limit(k)
  }

  def q104AssocRules(spark: SparkSession, dir: String): DataFrame = {
    val (bought, co) = basketCo(spark, dir)
    assocRulesFrom(bought, co, k = 100)
  }

  // ---------------------------------------------------------------- q204

  /** Q204: per-node LOCAL clustering coefficient — for every node of
    * an undirected edge list (u < v, deduplicated): degree, triangle
    * membership count, and cc_ppm = 2·tri·10⁶ div (d·(d−1)) for
    * d ≥ 2 (exact integer ppm, D6). q91's census answers "how closed
    * is the graph"; this answers "WHICH nodes sit in closed
    * neighborhoods" — the node-level community-ness feature an
    * entity-resolution or fraud pipeline feeds downstream.
    *
    * Triangles enumerate once through the stored u < v orientation
    * (u < v < w chain join + closing edge — the q91 oracle's
    * orientation), then each triangle credits its three corners via a
    * 3-row explode. Scale: the wedge join is the standard
    * oriented-enumeration bound; everything after is node-sized. */
  def localClustering(edges: DataFrame): DataFrame = {
    val e = edges.select("u", "v")
    val deg = e.select(col("u").as("x"))
      .unionAll(e.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val tris = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
      .select(explode(array(col("e1.u"), col("e1.v"), col("e2.v")))
        .as("x"))
      .groupBy("x").agg(count(lit(1)).as("tri"))
    deg.join(tris, Seq("x"), "left")
      .select(col("x").as("node"), col("d").as("degree"),
        coalesce(col("tri"), lit(0L)).as("n_tri"),
        when(col("d") >= 2,
          expr("(coalesce(tri, 0) * 2000000) div (d * (d - 1))"))
          .otherwise(lit(0L)).as("cc_ppm"))
      .orderBy("node")
  }

  /** Over the memoized co-supply graph (q91/q93/q99/q143's edges). */
  def q204LocalClustering(spark: SparkSession,
      dir: String): DataFrame =
    localClustering(coEdges25(spark, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q204_local_clustering" -> (q204LocalClustering _),
    "q175_ra_linkpred" -> (q175RaLinkpred _),
    "q91_triangles" -> (q91Triangles _),
    "q93_pagerank" -> (q93PageRank _),
    "q262_katz" -> (q262Katz _),
    "q265_pr_convergence" -> (q265PrConvergence _),
    "q250_hits" -> (q250Hits _),
    "q94_item_similarity" -> (q94ItemSimilarity _),
    "q99_bfs" -> (q99Bfs _),
    "q104_assoc_rules" -> (q104AssocRules _),
    "q131_kcore_peel" -> (q131KCorePeel _),
    "q140_ppr" -> (q140Ppr _),
    "q143_lpa_communities" -> (q143Lpa _),
    "q155_modularity" -> (q155Modularity _),
    "q305_louvain_rounds" -> (q305Louvain _),
    "q308_louvain_convergence" -> (q308LouvainConvergence _),
    "q311_louvain_two_level" -> (q311LouvainTwoLevel _),
    "q311b_louvain_contract_audit" -> (q311bLouvainContractAudit _),
    "q167_assortativity" -> (q167Assortativity _),
  )

  /** The q143 oracle unrolls the three synchronous LPA rounds; the
    * argmax is a ROW_NUMBER window with the same (count desc, label
    * asc) total tie order as the Spark `min(struct(-c, lab))`. Each
    * level references its predecessor once, but MATERIALIZED keeps the
    * vote join from being inlined into the window subquery. */
  private val lpaCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT sym.dst AS node, p.lab AS lab, COUNT(*) AS c
         |  FROM sym JOIN l${i - 1} p ON p.node = sym.src
         |  GROUP BY sym.dst, p.lab),
         |l$i AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      ROW_NUMBER() OVER (PARTITION BY node
         |        ORDER BY c DESC, lab) AS rn
         |    FROM c$i) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coGraphHeadCtes,
       |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM sym),
       |$rounds""".stripMargin
  }

  /** The shared co-supply graph head (ps/e/sym) — ONE renderer for the
    * q143/q155 LPA chain and the q305 Louvain chain. A `def` (not a
    * `val`): lpaCtes interpolates it during object init and is
    * declared first — a val here would still be null at that point. */
  private def coGraphHeadCtes: String =
    """ps AS (
      |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.s AS u, b.s AS v FROM ps a
      |  JOIN ps b ON a.p = b.p AND a.s < b.s
      |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
      |sym AS (SELECT u AS src, v AS dst FROM e
      |        UNION ALL SELECT v AS src, u AS dst FROM e)"""
      .stripMargin

  /** The q305 oracle: 3 unrolled synchronous Louvain rounds — links /
    * community degree mass / candidate dedup / cross-multiplied
    * integer argmax per round, each MATERIALIZED (multi-ref levels,
    * the q131 lesson); same (score desc, community asc) order as the
    * Spark min-struct. */
  private val louvainCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""lk$i AS MATERIALIZED (
         |  SELECT sym.src AS node, p.community AS cand,
         |    CAST(COUNT(*) AS BIGINT) AS l
         |  FROM sym JOIN lv${i - 1} p ON p.node = sym.dst
         |  GROUP BY sym.src, p.community),
         |tt$i AS MATERIALIZED (
         |  SELECT p.community AS cand, CAST(SUM(dg.d) AS BIGINT)
         |    AS tot
         |  FROM dg JOIN lv${i - 1} p ON p.node = dg.node
         |  GROUP BY p.community),
         |cn$i AS MATERIALIZED (
         |  SELECT node, cand, CAST(MAX(l) AS BIGINT) AS l FROM (
         |    SELECT node, cand, l FROM lk$i
         |    UNION ALL
         |    SELECT node, community AS cand, CAST(0 AS BIGINT) AS l
         |    FROM lv${i - 1}) u
         |  GROUP BY node, cand),
         |lv$i AS MATERIALIZED (
         |  SELECT node, cand AS community FROM (
         |    SELECT c.node, c.cand,
         |      ROW_NUMBER() OVER (PARTITION BY c.node ORDER BY
         |        2 * mm.m * c.l - dg.d * (t.tot -
         |          CASE WHEN c.cand = p.community THEN dg.d
         |               ELSE 0 END) DESC,
         |        c.cand) AS rn
         |    FROM cn$i c JOIN tt$i t ON t.cand = c.cand
         |    JOIN dg ON dg.node = c.node
         |    JOIN lv${i - 1} p ON p.node = c.node
         |    CROSS JOIN mm) t WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $coGraphHeadCtes,
       |dg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
       |       FROM sym GROUP BY src),
       |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
       |lv0 AS (SELECT node, node AS community FROM dg),
       |$rounds""".stripMargin
  }

  private val louvainOracle: String =
    s"""$louvainCtes
       |SELECT node, community FROM lv3 ORDER BY node""".stripMargin

  /** The q308 oracle: per-round moved/community counts off the SAME
    * unrolled Louvain chain. */
  private val louvainConvOracle: String = {
    val rows = (1 to 3).map { i =>
      s"""SELECT CAST($i AS BIGINT) AS round,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lv$i) AS n_nodes,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lv$i a
         |   JOIN lv${i - 1} b ON b.node = a.node
         |   AND b.community <> a.community) AS n_moved,
         |  (SELECT CAST(COUNT(DISTINCT community) AS BIGINT)
         |   FROM lv$i) AS n_communities""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$louvainCtes
       |$rows
       |ORDER BY round""".stripMargin
  }

  /** One weighted synchronous Louvain round over the contracted graph
    * (q311): identical structure to the level-1 rounds, with l =
    * Σ sw and the weighted degrees wdg — each level MATERIALIZED. */
  private def louvainWRoundCte(i: Int): String =
    s"""wlk$i AS MATERIALIZED (
       |  SELECT wsym.src AS node, p.community AS cand,
       |    CAST(SUM(wsym.sw) AS BIGINT) AS l
       |  FROM wsym JOIN wl${i - 1} p ON p.node = wsym.dst
       |  GROUP BY wsym.src, p.community),
       |wtt$i AS MATERIALIZED (
       |  SELECT p.community AS cand, CAST(SUM(wdg.d) AS BIGINT)
       |    AS tot
       |  FROM wdg JOIN wl${i - 1} p ON p.node = wdg.node
       |  GROUP BY p.community),
       |wcn$i AS MATERIALIZED (
       |  SELECT node, cand, CAST(MAX(l) AS BIGINT) AS l FROM (
       |    SELECT node, cand, l FROM wlk$i
       |    UNION ALL
       |    SELECT node, community AS cand, CAST(0 AS BIGINT) AS l
       |    FROM wl${i - 1}) u
       |  GROUP BY node, cand),
       |wl$i AS MATERIALIZED (
       |  SELECT node, cand AS community FROM (
       |    SELECT c.node, c.cand,
       |      ROW_NUMBER() OVER (PARTITION BY c.node ORDER BY
       |        2 * mm.m * c.l - wdg.d * (t.tot -
       |          CASE WHEN c.cand = p.community THEN wdg.d
       |               ELSE 0 END) DESC,
       |        c.cand) AS rn
       |    FROM wcn$i c JOIN wtt$i t ON t.cand = c.cand
       |    JOIN wdg ON wdg.node = c.node
       |    JOIN wl${i - 1} p ON p.node = c.node
       |    CROSS JOIN mm) t WHERE rn = 1)""".stripMargin

  /** The q311 contraction + weighted-ascent chain, appended after the
    * unrolled level-1 louvainCtes (lv3): super-edges, self-loops,
    * weighted symmetric list, weighted degrees, 3 weighted rounds. */
  private val louvain2Ctes: String =
    s"""$louvainCtes,
       |sup AS MATERIALIZED (
       |  SELECT LEAST(a.community, b.community) AS a,
       |    GREATEST(a.community, b.community) AS b,
       |    CAST(COUNT(*) AS BIGINT) AS sw
       |  FROM e JOIN lv3 a ON a.node = e.u
       |  JOIN lv3 b ON b.node = e.v
       |  WHERE a.community <> b.community
       |  GROUP BY 1, 2),
       |slf AS MATERIALIZED (
       |  SELECT a.community AS a, CAST(COUNT(*) AS BIGINT) AS sl
       |  FROM e JOIN lv3 a ON a.node = e.u
       |  JOIN lv3 b ON b.node = e.v
       |  WHERE a.community = b.community
       |  GROUP BY a.community),
       |wsym AS (SELECT a AS src, b AS dst, sw FROM sup
       |         UNION ALL SELECT b AS src, a AS dst, sw FROM sup),
       |wnod AS (SELECT DISTINCT community AS node FROM lv3),
       |wdg AS MATERIALIZED (
       |  SELECT n.node,
       |    CAST(COALESCE(s.dw, 0) + 2 * COALESCE(f.sl, 0) AS BIGINT)
       |      AS d
       |  FROM wnod n
       |  LEFT JOIN (SELECT src AS node, CAST(SUM(sw) AS BIGINT) AS dw
       |             FROM wsym GROUP BY src) s ON s.node = n.node
       |  LEFT JOIN slf f ON f.a = n.node),
       |wl0 AS (SELECT node, node AS community FROM wdg),
       |${(1 to 3).map(louvainWRoundCte).mkString(",\n")}""".stripMargin

  private val louvain2Oracle: String =
    s"""$louvain2Ctes
       |SELECT l1.node, l1.community AS community_l1,
       |  l2.community AS community_l2
       |FROM lv3 l1 JOIN wl3 l2 ON l2.node = l1.community
       |ORDER BY l1.node""".stripMargin

  /** q311b: exact integer Σ q_num for BOTH partitions over the same
    * e/dg/mm the level-1 chain defines, plus the contraction counts. */
  private val louvain2AuditOracle: String = {
    def qChain(lab: String, p: String): String =
      s"""${p}ein AS (
         |  SELECT la.community, CAST(COUNT(*) AS BIGINT) AS e_in
         |  FROM e JOIN $lab la ON la.node = e.u
         |  JOIN $lab lb ON lb.node = e.v
         |    AND lb.community = la.community
         |  GROUP BY la.community),
         |${p}kc AS (
         |  SELECT la.community, CAST(SUM(d.d) AS BIGINT) AS k_sum
         |  FROM dg d JOIN $lab la ON la.node = d.node
         |  GROUP BY la.community),
         |${p}q AS (
         |  SELECT CAST(SUM(4 * mm.m * COALESCE(e2.e_in, 0)
         |    - k.k_sum * k.k_sum) AS BIGINT) AS qn
         |  FROM ${p}kc k LEFT JOIN ${p}ein e2 USING (community)
         |  CROSS JOIN mm)""".stripMargin
    s"""$louvain2Ctes,
       |lab2 AS (
       |  SELECT l1.node, l2.community
       |  FROM lv3 l1 JOIN wl3 l2 ON l2.node = l1.community),
       |${qChain("lv3", "x1")},
       |${qChain("lab2", "x2")}
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM wnod) AS n_super_nodes,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM sup) AS n_super_edges,
       |  COALESCE((SELECT CAST(SUM(sl) AS BIGINT) FROM slf), 0)
       |    AS intra_edges,
       |  (x1q.qn * 1000000) // (4 * mm.m * mm.m) AS q1_e6,
       |  (x2q.qn * 1000000) // (4 * mm.m * mm.m) AS q2_e6
       |FROM x1q, x2q, mm""".stripMargin
  }

  private val lpaOracle: String =
    s"""$lpaCtes
       |SELECT node, lab AS community FROM l3 ORDER BY node""".stripMargin

  /** The q155 oracle: the q143 CTE chain extended with the modularity
    * aggregations — same 4m·e_in − K² integer numerators, same
    * truncating signed division (DuckDB `//` ≡ Spark `div`). */
  private val modularityOracle: String =
    s"""$lpaCtes,
       |m AS (SELECT COUNT(*) AS m FROM e),
       |lab AS (SELECT node, lab AS community FROM l3),
       |ein AS (
       |  SELECT la.community, COUNT(*) AS e_in
       |  FROM e JOIN lab la ON la.node = e.u
       |  JOIN lab lb ON lb.node = e.v AND lb.community = la.community
       |  GROUP BY la.community),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM sym
       |        GROUP BY src),
       |kc AS (
       |  SELECT la.community, COUNT(*) AS n_nodes,
       |    CAST(SUM(d.d) AS BIGINT) AS k_sum
       |  FROM deg d JOIN lab la ON la.node = d.node
       |  GROUP BY la.community)
       |SELECT kc.community, kc.n_nodes, kc.k_sum,
       |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in,
       |  4 * m.m * CAST(COALESCE(ein.e_in, 0) AS BIGINT)
       |    - kc.k_sum * kc.k_sum AS q_num,
       |  ((4 * m.m * CAST(COALESCE(ein.e_in, 0) AS BIGINT)
       |    - kc.k_sum * kc.k_sum) * 1000000) // (4 * m.m * m.m)
       |    AS q_e6
       |FROM kc LEFT JOIN ein ON ein.community = kc.community, m
       |ORDER BY kc.community""".stripMargin

  /** The q140 oracle: q93's unrolled-iteration discipline with the
    * seed-restricted reset; each level LEFT-joins the contribution sum
    * onto the full reset frame so teleport-only nodes survive. One
    * predecessor reference per level ⇒ plain CTEs are safe (the q131
    * 3-ref blowup doesn't apply). */
  private val pprOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""p$i AS (
         |  SELECT n.node,
         |    (15 * n.r) // 100 + (85 * COALESCE(c.cs, 0)) // 100 AS s
         |  FROM r n LEFT JOIN (
         |    SELECT sym.dst AS node, CAST(SUM(p.s // g.d) AS BIGINT) AS cs
         |    FROM sym JOIN deg g ON g.src = sym.src
         |    JOIN p${i - 1} p ON p.node = sym.src
         |    GROUP BY sym.dst) c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e AS (
       |  SELECT a.s AS u, b.s AS v FROM ps a
       |  JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
       |sym AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
       |r AS (SELECT src AS node,
       |        CASE WHEN src % 10 = 0 THEN CAST(1000000 AS BIGINT)
       |             ELSE CAST(0 AS BIGINT) END AS r
       |      FROM deg),
       |p0 AS (SELECT node, r AS s FROM r),
       |$iters
       |SELECT node, s AS score FROM p5 ORDER BY node""".stripMargin
  }

  /** The q131 oracle unrolls the four fixed peel rounds as chained
    * CTEs (the q93/q99 discipline — pure integer set algebra, bit-
    * identical in any engine). The edge CTE is the q94 basket shape at
    * minCo = 4. Every e/d level is AS MATERIALIZED: DuckDB inlines
    * plain CTEs, and each level references its predecessor three
    * times, so inlining would expand the expensive pair join 3^rounds
    * times (observed: temp-disk exhaustion at sf0.01). */
  private val kCorePeelOracle: String = {
    val rounds = (1 to 4).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT n, COUNT(*) AS d FROM (
         |    SELECT u AS n FROM e${i - 1}
         |    UNION ALL SELECT v AS n FROM e${i - 1})
         |  GROUP BY n),
         |b$i AS MATERIALIZED (SELECT n FROM d$i WHERE d < 3),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u NOT IN (SELECT n FROM b$i)
         |    AND v NOT IN (SELECT n FROM b$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH b0 AS MATERIALIZED (
       |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
       |e0 AS MATERIALIZED (
       |  SELECT a.item AS u, b.item AS v FROM b0 a
       |  JOIN b0 b ON a.cust = b.cust AND a.item < b.item
       |  GROUP BY 1, 2 HAVING COUNT(*) >= 4),
       |$rounds
       |SELECT u, v FROM e4 ORDER BY u, v""".stripMargin
  }

  /** Truss-peel rounds as chained MATERIALIZED DuckDB CTEs (the q131
    * unroll discipline), consuming a pre-defined edge CTE e0 (u, v)
    * and producing e`rounds` — per round: the symmetric closure, the
    * wedge-join support count per surviving edge, and the
    * support < k-2 peel (LEFT JOIN + COALESCE keeps triangle-free
    * edges peelable). Pure integer set algebra; shared with the
    * dedup-side q288 oracle. */
  private[operators] def trussRoundCtes(rounds: Int,
      minSup: Long): String =
    (1 to rounds).map { i =>
      s"""ts$i AS MATERIALIZED (
         |  SELECT u AS x, v AS y FROM e${i - 1}
         |  UNION ALL SELECT v AS x, u AS y FROM e${i - 1}),
         |tt$i AS MATERIALIZED (
         |  SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS sup
         |  FROM e${i - 1} e
         |  JOIN ts$i s1 ON s1.x = e.u
         |  JOIN ts$i s2 ON s2.x = e.v AND s2.y = s1.y
         |  GROUP BY e.u, e.v),
         |e$i AS MATERIALIZED (
         |  SELECT e.u, e.v FROM e${i - 1} e
         |  LEFT JOIN tt$i t ON t.u = e.u AND t.v = e.v
         |  WHERE COALESCE(t.sup, 0) >= $minSup)""".stripMargin
    }.mkString(",\n")

  /** The q93 oracle unrolls the FIXED five iterations as chained CTEs
    * (DuckDB recursive CTEs cannot aggregate per step); every step is
    * the same integer floor arithmetic as the Spark loop, so scores are
    * bit-identical. */
  /** One HITS round as DuckDB CTEs — hub half (edge-keyed sum of
    * authority scores, max-normalized) then authority half; chained
    * MATERIALIZED (the q93 unroll discipline). */
  private def hitsRoundCte(k: Int): String =
    s"""hr$k AS MATERIALIZED (
       |  SELECT e.hub, CAST(SUM(a.a) AS BIGINT) AS raw
       |  FROM e JOIN a$k a USING (auth) GROUP BY e.hub),
       |h${k + 1} AS MATERIALIZED (
       |  SELECT hub, (raw * 1000000) // mx AS h
       |  FROM hr$k, (SELECT MAX(raw) AS mx FROM hr$k) m$k),
       |ar$k AS MATERIALIZED (
       |  SELECT e.auth, CAST(SUM(h.h) AS BIGINT) AS raw
       |  FROM e JOIN h${k + 1} h USING (hub) GROUP BY e.auth),
       |a${k + 1} AS MATERIALIZED (
       |  SELECT auth, (raw * 1000000) // mx AS a
       |  FROM ar$k, (SELECT MAX(raw) AS mx FROM ar$k) n$k)"""
      .stripMargin

  private val hitsOracle: String =
    """WITH e AS MATERIALIZED (
      |  SELECT DISTINCT o.o_custkey AS hub, l.l_partkey AS auth
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
      |a0 AS MATERIALIZED (
      |  SELECT DISTINCT auth, CAST(1000000 AS BIGINT) AS a FROM e)"""
      .stripMargin +
      (0 until 3).map(hitsRoundCte).mkString(",\n", ",\n", "") +
      """
        |SELECT kind, rank, node_id, score_e6 FROM (
        |  SELECT 'authority' AS kind,
        |    CAST(ROW_NUMBER() OVER (ORDER BY a DESC, auth) AS BIGINT)
        |      AS rank,
        |    CAST(auth AS BIGINT) AS node_id, a AS score_e6
        |  FROM a3) ta WHERE rank <= 20
        |UNION ALL
        |SELECT kind, rank, node_id, score_e6 FROM (
        |  SELECT 'hub' AS kind,
        |    CAST(ROW_NUMBER() OVER (ORDER BY h DESC, hub) AS BIGINT)
        |      AS rank,
        |    CAST(hub AS BIGINT) AS node_id, h AS score_e6
        |  FROM h3) th WHERE rank <= 20
        |ORDER BY kind, rank""".stripMargin

  /** q262: the pageRankOracle graph CTEs + 3 Katz rounds, each with
    * the divide-only max-normalization; rounds reference their
    * predecessor twice (max + normalize) → MATERIALIZED. */
  private val katzOracle: String = {
    val iters = (1 to 3).map { i =>
      s"""m$i AS MATERIALIZED (
         |  SELECT greatest(MAX(s), 1) AS mx FROM k${i - 1}),
         |n$i AS MATERIALIZED (
         |  SELECT node, s // greatest(mx // 1000000, 1) AS sn
         |  FROM k${i - 1}, m$i),
         |k$i AS MATERIALIZED (
         |  SELECT sym.dst AS node,
         |    1000000 + (15 * CAST(SUM(n.sn) AS BIGINT)) // 100 AS s
         |  FROM sym JOIN n$i n ON n.node = sym.src
         |  GROUP BY sym.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e AS (
       |  SELECT a.s AS u, b.s AS v FROM ps a
       |  JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
       |sym AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |k0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS s
       |       FROM sym),
       |$iters
       |SELECT node, s AS score FROM k3 ORDER BY node""".stripMargin
  }

  /** q265: the q93 rounds re-unrolled MATERIALIZED (each round is now
    * referenced twice — by its successor and its delta), plus one
    * delta row per consecutive pair. */
  private val prConvergenceOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT sym.dst AS node,
         |    150000 + (85 * CAST(SUM(p.s // g.d) AS BIGINT)) // 100 AS s
         |  FROM sym JOIN deg g ON g.src = sym.src
         |  JOIN p${i - 1} p ON p.node = sym.src
         |  GROUP BY sym.dst)""".stripMargin
    }.mkString(",\n")
    val deltas = (1 to 5).map { i =>
      s"""  SELECT CAST($i AS BIGINT) AS round,
         |    CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |    CAST(SUM(abs(a.s - b.s)) AS BIGINT) AS delta_mass,
         |    CAST(MAX(abs(a.s - b.s)) AS BIGINT) AS max_delta
         |  FROM p$i a JOIN p${i - 1} b ON a.node = b.node""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e AS (
       |  SELECT a.s AS u, b.s AS v FROM ps a
       |  JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
       |sym AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
       |p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS s FROM deg),
       |$iters
       |$deltas
       |ORDER BY round""".stripMargin
  }

  private val pageRankOracle: String = {
    val iters = (1 to 5).map { i =>
      s"""p$i AS (
         |  SELECT sym.dst AS node,
         |    150000 + (85 * CAST(SUM(p.s // g.d) AS BIGINT)) // 100 AS s
         |  FROM sym JOIN deg g ON g.src = sym.src
         |  JOIN p${i - 1} p ON p.node = sym.src
         |  GROUP BY sym.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e AS (
       |  SELECT a.s AS u, b.s AS v FROM ps a
       |  JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
       |sym AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
       |p0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS s FROM deg),
       |$iters
       |SELECT node, s AS score FROM p5 ORDER BY node""".stripMargin
  }

  /** The q99 oracle unrolls the four fixed BFS rounds as chained CTEs —
    * integer MIN propagation is bit-identical in any engine (the q93
    * discipline). */
  private val bfsOracle: String = {
    val rounds = (1 to 4).map { i =>
      s"""d$i AS (
         |  SELECT node, MIN(dist) AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT sym.dst, p.dist + 1 FROM sym
         |    JOIN d${i - 1} p ON p.node = sym.src)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ps AS (
       |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
       |e AS (
       |  SELECT a.s AS u, b.s AS v FROM ps a
       |  JOIN ps b ON a.p = b.p AND a.s < b.s
       |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
       |sym AS (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |d0 AS (SELECT s_suppkey AS node, CAST(0 AS BIGINT) AS dist
       |       FROM supplier WHERE s_nationkey = 0),
       |$rounds
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d4
       |ORDER BY node""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q143_lpa_communities" -> lpaOracle,
    "q305_louvain_rounds" -> louvainOracle,
    "q308_louvain_convergence" -> louvainConvOracle,
    "q311_louvain_two_level" -> louvain2Oracle,
    "q311b_louvain_contract_audit" -> louvain2AuditOracle,
    "q155_modularity" -> modularityOracle,
    // q175: same wedge enumeration over the co-purchase edge CTE
    // (lineitem ⋈ orders baskets, co ≥ 3 — co-supply is a clique
    // below sf0.1, see the main scaladoc),
    // same non-negative integer `//` score, same anti-join of existing
    // edges.
    "q175_ra_linkpred" ->
      """WITH bought AS (
        |  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS i
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |e AS MATERIALIZED (
        |  SELECT a.i AS u, b.i AS v FROM bought a
        |  JOIN bought b ON a.c = b.c AND a.i < b.i
        |  GROUP BY a.i, b.i HAVING COUNT(*) >= 3),
        |sym AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src AS w, COUNT(*) AS d FROM sym GROUP BY src),
        |adj AS (SELECT src AS w, dst AS n FROM sym),
        |wed AS (
        |  SELECT x.w, x.n AS a, y.n AS b
        |  FROM adj x JOIN adj y ON x.w = y.w AND x.n < y.n),
        |sc AS (
        |  SELECT wed.a, wed.b, COUNT(*) AS n_common,
        |    CAST(SUM(1000000 // deg.d) AS BIGINT) AS ra_ppm
        |  FROM wed JOIN deg ON deg.w = wed.w
        |  GROUP BY wed.a, wed.b)
        |SELECT sc.a, sc.b, sc.n_common, sc.ra_ppm
        |FROM sc LEFT JOIN e ON e.u = sc.a AND e.v = sc.b
        |WHERE e.u IS NULL
        |ORDER BY sc.ra_ppm DESC, sc.n_common DESC, sc.a, sc.b
        |LIMIT 100""".stripMargin,
    // q167: same symmetrized degree joins, same exact integer power
    // sums, same single double division (operands < 2⁵³ ⇒ exact),
    // same integer 0/0 guard.
    "q167_assortativity" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
        |  FROM lineitem),
        |e AS (
        |  SELECT a.s AS u, b.s AS v FROM ps a
        |  JOIN ps b ON a.p = b.p AND a.s < b.s
        |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
        |sym AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
        |j AS (
        |  SELECT du.d AS du, dv.d AS dv
        |  FROM sym JOIN deg du ON du.src = sym.src
        |  JOIN deg dv ON dv.src = sym.dst),
        |a AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(du) AS BIGINT) AS sx,
        |    CAST(SUM(du * dv) AS BIGINT) AS sxy,
        |    CAST(SUM(du * du) AS BIGINT) AS sxx
        |  FROM j)
        |SELECT n, sx, sxy, sxx,
        |  CASE WHEN n * sxx = sx * sx THEN 0.0 ELSE
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS r
        |FROM a""".stripMargin,
    "q99_bfs" -> bfsOracle,
    "q131_kcore_peel" -> kCorePeelOracle,
    // q104: same distinct buyer sets and co counts as q94, both rule
    // directions, integer-exact confidence and lift; (lift desc, conf
    // desc, a, b) is a total order under the LIMIT.
    "q104_assoc_rules" ->
      """WITH bought AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |sizes AS (SELECT item, COUNT(*) AS nb FROM bought GROUP BY item),
        |nbk AS (SELECT COUNT(DISTINCT cust) AS n_baskets FROM bought),
        |co AS (
        |  SELECT a.item AS ia, b.item AS ib, COUNT(*) AS co
        |  FROM bought a JOIN bought b
        |    ON a.cust = b.cust AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |dirr AS (
        |  SELECT ia AS a, ib AS b, co FROM co
        |  UNION ALL SELECT ib AS a, ia AS b, co FROM co)
        |SELECT d.a AS antecedent, d.b AS consequent, d.co AS support,
        |  (d.co * 1000000) // sa.nb AS conf_e6,
        |  (d.co * n.n_baskets * 1000000) // (sa.nb * sb.nb) AS lift_e6
        |FROM dirr d
        |JOIN sizes sa ON sa.item = d.a
        |JOIN sizes sb ON sb.item = d.b, nbk n
        |ORDER BY lift_e6 DESC, conf_e6 DESC, antecedent, consequent
        |LIMIT 100""".stripMargin,
    "q93_pagerank" -> pageRankOracle,
    // q262: same graph, 3 Katz rounds with divide-only max-normalization.
    "q262_katz" -> katzOracle,
    // q265: the q93 rounds MATERIALIZED + per-round L1/max deltas.
    "q265_pr_convergence" -> prConvergenceOracle,
    // q250: same distinct bipartite edges, same three max-normalized
    // integer half-round pairs (non-negative operands: div ≡ //),
    // same (score desc, id) top-20 per side.
    "q250_hits" -> hitsOracle,
    "q140_ppr" -> pprOracle,
    // q94: same distinct buyer sets, same integer jaccard, same unique
    // (jaccard desc, pair) total order under the LIMIT.
    "q94_item_similarity" ->
      """WITH bought AS (
        |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
        |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
        |sizes AS (SELECT item, COUNT(*) AS nb FROM bought GROUP BY item),
        |co AS (
        |  SELECT a.item AS ia, b.item AS ib, COUNT(*) AS co
        |  FROM bought a JOIN bought b
        |    ON a.cust = b.cust AND a.item < b.item
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT co.ia AS item_a, co.ib AS item_b, co.co AS co,
        |  (co.co * 1000000) // (sa.nb + sb.nb - co.co) AS jaccard_e6
        |FROM co JOIN sizes sa ON sa.item = co.ia
        |JOIN sizes sb ON sb.item = co.ib
        |ORDER BY jaccard_e6 DESC, item_a, item_b LIMIT 100""".stripMargin,
    // Same edge set (exact integer co-supply counts), id-oriented
    // q204: same co-supply edge CTE as q91, same u<v<w triangle
    // enumeration, each triangle credited to its three corners; the
    // 0/0 guard returns 0 for degree-1 nodes on both sides.
    "q204_local_clustering" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (
        |  SELECT a.s AS u, b.s AS v FROM ps a
        |  JOIN ps b ON a.p = b.p AND a.s < b.s
        |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
        |deg AS (
        |  SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY x),
        |tc AS (
        |  SELECT x, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |    SELECT e1.u AS x FROM e e1
        |    JOIN e e2 ON e2.u = e1.v
        |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |    UNION ALL
        |    SELECT e1.v FROM e e1
        |    JOIN e e2 ON e2.u = e1.v
        |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        |    UNION ALL
        |    SELECT e2.v FROM e e1
        |    JOIN e e2 ON e2.u = e1.v
        |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        |  GROUP BY x)
        |SELECT deg.x AS node, deg.d AS degree,
        |  COALESCE(tc.tri, 0) AS n_tri,
        |  CASE WHEN deg.d >= 2
        |       THEN (COALESCE(tc.tri, 0) * 2000000) //
        |            (deg.d * (deg.d - 1))
        |       ELSE CAST(0 AS BIGINT) END AS cc_ppm
        |FROM deg LEFT JOIN tc ON tc.x = deg.x
        |ORDER BY node""".stripMargin,
    // triangle join (e1.u<e1.v<e2.v chains + closing edge) — a
    // different orientation, provably the same count.
    "q91_triangles" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        |e AS (
        |  SELECT a.s AS u, b.s AS v FROM ps a
        |  JOIN ps b ON a.p = b.p AND a.s < b.s
        |  GROUP BY a.s, b.s HAVING COUNT(*) >= 25),
        |deg AS (
        |  SELECT x, COUNT(*) AS d FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e)
        |  GROUP BY x),
        |tri AS (
        |  SELECT COUNT(*) AS n_triangles FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |w AS (
        |  SELECT COUNT(*) AS n_nodes,
        |    CAST(SUM((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
        |  FROM deg),
        |ec AS (SELECT COUNT(*) AS n_edges FROM e)
        |SELECT w.n_nodes, ec.n_edges, w.n_wedges, tri.n_triangles,
        |  CAST(CASE WHEN w.n_wedges = 0 THEN 0 ELSE
        |    (tri.n_triangles * 3 * 1000000) // w.n_wedges END AS BIGINT)
        |    AS closure_ppm
        |FROM w, ec, tri""".stripMargin,
  )
}
