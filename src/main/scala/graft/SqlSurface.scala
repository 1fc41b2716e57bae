package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, FunctionIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.functions.{CosineSimilarityExpr, DotProductExpr, Native, NearestCentroidExpr, SignatureExprs}
import graft.operators._

/** SQL front door for the operator library — everything a SQL-only user
  * needs to reach the LLM-pipeline operators from `spark.sql` alone.
  *
  * Two lists, one mechanism:
  *  1. [[natives]], the native expressions (`graft_minhash`,
  *     `graft_hyperplane`, `graft_cosine`, `graft_dot`,
  *     `graft_nearest_centroid`, …). With these a SQL user composes the
  *     same banded/bucketed plans the Scala operators build;
  *  2. [[tableFunctions]], whole operators whose driving logic isn't a
  *     single expression (as-of join, dedup pair generation, kNN, …) as
  *     `graft_*` table functions: `SELECT * FROM graft_knn('embeddings',
  *     'embeddings', 5)`. Arguments are literals — view names, numbers,
  *     string/int arrays — and trailing ones take the defaults shown by
  *     `DESCRIBE FUNCTION`. The body runs the operator on the named
  *     views when the query is analyzed and returns its analyzed plan,
  *     so the pipeline plans, optimizes and distributes exactly as the
  *     Scala call would; eager operators run their jobs at that point.
  *
  * Both reach a session either at construction
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) or post hoc
  * through [[register]].
  */
object SqlSurface {

  type TableFunction =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  val natives: Seq[Native.Function] = Seq(CosineSimilarityExpr.function,
    DotProductExpr.function, NearestCentroidExpr.function) ++
    SignatureExprs.functions

  /** Register every native and table function on a live session (the
    * post-hoc twin of the GraftExtensions injection). */
  def register(spark: SparkSession): Unit = {
    Native.register(spark, natives)
    tableFunctions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry
        .registerFunction(id, info, builder)
    }
  }

  /** Register the data directory's tables as temp views (`documents`,
    * `embeddings`, the TPC-H-ish tables, and `events` via the
    * nanos-safe reader). */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** The literal arguments of one table-function call, read by position.
    * Values go through Catalyst's Scala converters first, so a SQL `0.5`
    * (a Decimal literal) reads as a number like `5` or `5L` does. */
  private final class Args(call: String, exprs: Seq[Expression]) {
    private def bad(i: Int, v: Any): Nothing =
      throw new IllegalArgumentException(
        s"$call: argument ${i + 1} must be a literal of the listed kind, " +
          s"got $v")
    private def arg[T](i: Int, default: => T)(read: PartialFunction[Any, T])
        : T =
      if (i >= exprs.length) default
      else {
        val e = exprs(i)
        if (!e.foldable) bad(i, e.sql)
        val v = CatalystTypeConverters.convertToScala(e.eval(), e.dataType)
        read.applyOrElse(v, bad(i, _: Any))
      }
    // Unreachable once the arity check passed: marks a required argument.
    private def required: Nothing = throw new IllegalStateException(call)

    def str(i: Int): String = arg(i, required) { case s: String => s }
    def table(i: Int): DataFrame = SparkSession.active.table(str(i))
    def int(i: Int, default: => Int = required): Int =
      arg(i, default) { case n: Number if n.doubleValue.isValidInt =>
        n.intValue }
    def long(i: Int, default: => Long = required): Long =
      arg(i, default) { case n: Number if n.doubleValue.isWhole =>
        n.longValue }
    def double(i: Int, default: => Double = required): Double =
      arg(i, default) { case n: Number => n.doubleValue }
    def strs(i: Int): Seq[String] = arg(i, required) {
      case s: collection.Seq[_] if s.forall(_.isInstanceOf[String]) =>
        s.map(_.toString).toSeq }
    def ints(i: Int, default: => Seq[Int]): Seq[Int] = arg(i, default) {
      case s: collection.Seq[_] if s.forall(_.isInstanceOf[Number]) =>
        s.map(_.asInstanceOf[Number].intValue).toSeq }
    /** An array of string arrays: one tuple per inner array. */
    def tuples(i: Int): Seq[Seq[String]] = arg(i, required) {
      case s: collection.Seq[_]
          if s.forall(_.isInstanceOf[collection.Seq[_]]) =>
        s.map(_.asInstanceOf[collection.Seq[_]].map(_.toString).toSeq).toSeq }
  }

  /** One registry entry. `params` name the positional arguments, a
    * trailing `p = v` marks a default; `doc` is the usage text. */
  private def fn(name: String, params: String*)(doc: String)(
      body: Args => DataFrame): TableFunction = {
    val call = params.mkString(s"$name(", ", ", ")")
    val arity = params.count(!_.contains(" = ")) to params.length
    val usage = s"$call - ${doc.stripMargin.replace('\n', ' ')}"
    (FunctionIdentifier(name), new ExpressionInfo("graft.SqlSurface", null,
      name, usage, "", "", "", "", "", "", ""), { exprs =>
      if (!arity.contains(exprs.length))
        throw new IllegalArgumentException(
          s"$name takes $call, got ${exprs.length} arguments")
      body(new Args(call, exprs)).queryExecution.analyzed
    })
  }

  /** Every `graft_*` table function, in registration order. */
  val tableFunctions: Seq[TableFunction] = Seq(
    fn("graft_near_dup_pairs", "docs", "k = 3", "threshold = 0.5")(
      """Exact n-gram Jaccard near-dup pairs of `docs` (doc_id, text) →
        |(doc_a, doc_b, jaccard).""") { a =>
      Dedup.ngramJaccardPairs(a.table(0), a.int(1, 3), a.double(2, 0.5)) },

    fn("graft_dedup_survivors", "docs", "k = 3", "threshold = 0.5")(
      """Survivors of exact near-dup removal over `docs` → the source
        |schema.""") { a =>
      Dedup.dropNearDuplicatesExact(a.table(0), a.int(1, 3),
        a.double(2, 0.5)) },

    fn("graft_asof_join", "left", "right", "key", "ts", "value_cols")(
      """Backward as-of join of two views → left columns + carried right
        |value columns.""") { a =>
      AsofJoin.asofJoin(a.table(0), a.table(1), a.str(2), a.str(3),
        a.strs(4)) },

    fn("graft_knn", "vectors", "queries", "k")(
      """Exact brute-force kNN of `queries` against `vectors`
        |(vec_id, embedding) → (qid, rank, neighbor, cos).""") { a =>
      Similarity.knnBrute(a.table(0), a.table(1), a.int(2)) },

    fn("graft_chunks", "docs", "window = 200", "stride = 150")(
      """Overlapping character chunks of `docs` (doc_id, text, n_chars) →
        |(doc_id, chunk_idx, chunk, chunk_len).""") { a =>
      CorpusPrep.chunkDocuments(a.table(0), a.int(1, 200), a.int(2, 150)) },

    fn("graft_funnel", "events", "stages")(
      """Per-user strict-funnel first-completion times of `events`
        |(user_id, event_type, ts_ns) → (user_id, t0 … tk).""") { a =>
      Behavioral.funnelTimes(a.table(0), a.strs(1)) },

    fn("graft_cohort", "events")(
      """Cohort retention cells of `events` → (cohort_wk, week_offset,
        |n_users).""") { a =>
      Behavioral.cohortRetention(a.table(0)) },

    fn("graft_corpus_report", "docs")(
      """Per-source dataset card of `docs` (doc_id, text, lang, source,
        |n_chars) → (source, n_docs, tok_sum, avg_chars, en_bp,
        |dup_bp).""") { a =>
      CorpusPrep.corpusReport(a.table(0)) },

    fn("graft_collocations", "docs", "min_count", "k")(
      """Collocations of `docs` by integer lift → (bigram, n_ab, n_a, n_b,
        |lift_ppm).""") { a =>
      TextOps.collocations(a.table(0), a.long(1), a.int(2)) },

    fn("graft_triangle_census", "edges")(
      """Triangle census of an edge-list view (u, v; u < v, deduped) →
        |1 row (n_nodes, n_edges, n_wedges, n_triangles,
        |closure_ppm).""") { a =>
      Graph.triangleCensus(a.table(0)) },

    fn("graft_page_rank", "edges", "iters")(
      """Integer-scaled PageRank of an edge-list view → (node,
        |score).""") { a =>
      Graph.pageRank(a.table(0), a.int(1)) },

    fn("graft_winnow", "docs")(
      """Winnowing fingerprints of `docs` (doc_id, text) → (doc_id, pos,
        |fp).""") { a =>
      TextOps.winnowFingerprints(a.table(0)) },

    fn("graft_quality_report")(
      """Data-quality constraint report over the registered TPC-H-ish
        |views orders, lineitem, customer and nation → (check_name,
        |n_bad).""") { _ =>
      val s = SparkSession.active
      Quality.dataQualityReport(s.table("orders"), s.table("lineitem"),
        s.table("customer"), s.table("nation")) },

    fn("graft_heavy_hitters", "tokens", "token_col", "k",
        "threshold_num = 1", "threshold_den = 400")(
      """Misra–Gries heavy hitters of a token view (`token_col` string
        |column) → (w, c): every token with frequency >
        |n·`threshold_num`/`threshold_den`, exact counts, O(k) state per
        |partition — the 100 TB path that never shuffles the full
        |vocabulary.""") { a =>
      TextOps.heavyHittersMG(a.table(0), a.str(1), a.int(2), a.long(3, 1),
        a.long(4, 400)) },

    fn("graft_snapshot_diff", "old", "new", "key", "compare_cols")(
      """Snapshot diff (CDC) of two keyed views → (key, op ∈ I/U/D, plus
        |old_c and new_c for each compared column c).""") { a =>
      Relational.snapshotDiff(a.table(0), a.table(1), a.str(2),
        a.strs(3)) },

    fn("graft_interval_join", "triggers", "follow_ups", "trigger_type",
        "follow_type", "horizon_seconds")(
      """Event-time interval join (conversion attribution) of two event
        |views → (user_id, a_id, b_id, b_value, gap_us). On batch views
        |this is the theta join; the same body on streaming views yields
        |the state-bounded stream-stream join.""") { a =>
      streaming.StreamOps.intervalJoinStream(a.table(0), a.table(1),
        a.str(2), a.str(3), a.long(4)) },

    fn("graft_sessions", "events", "gap_us = 1800000000")(
      """Per-event session labels of an events view (user_id, ts_ns,
        |event_id, event_type) → (…, session_no) under the 30-minute
        |(default) inactivity-gap definition — q141's exact derivation
        |(round 8).""") { a =>
      Behavioral.sessionized(a.table(0), a.long(1, 1800L * 1000000L)) },

    fn("graft_rolling_wau", "events", "window_days = 7")(
      """Rolling distinct-user window (7-day WAU by default) of an events
        |view (user_id, ts) → (d, wau7) — q144's distinct-collapse +
        |broadcast anchor-range plan.""") { a =>
      Behavioral.rollingWau(a.table(0), a.int(1, 7)) },

    fn("graft_communities", "edges", "rounds = 3")(
      """Fixed-round label-propagation communities of an edge-list view
        |(u, v) → (node, community) — q143's deterministic argmax
        |propagation.""") { a =>
      Graph.labelPropagation(a.table(0), a.int(1, 3)) },

    fn("graft_modularity", "edges", "labels")(
      """Per-community modularity decomposition of an edge-list view
        |against a (node, community) labels view → (community, n_nodes,
        |e_in, k_sum, q_num, q_e6) — q155's exact integer Newman–Girvan
        |audit.""") { a =>
      Graph.modularityByCommunity(a.table(0), a.table(1)) },

    fn("graft_holt", "daily")(
      """Holt level+trend smoothing of a per-key daily series view
        |(event_type, dnum, v) → (event_type, n_days, level_e3, trend_e3,
        |forecast_e3) — q146's two-long-state spill-sorted fold.""") { a =>
      Stats.holtByType(a.table(0)) },

    fn("graft_ohlc", "events")(
      """Daily OHLC bars of an events view (event_type, ts, ts_ns,
        |event_id, value) → (event_type, day, n_events, open, high, low,
        |close) — q136's two-direction row_number selection.""") { a =>
      TimeSeries.ohlcBars(a.table(0)) },

    fn("graft_attribution", "events")(
      """Last-touch attribution rollup of an events view (user_id, ts_ns,
        |event_id, event_type, value) → (channel, n_conv, revenue_cents)
        |— q169's single window-pass credit assignment (round 8).""") { a =>
      Behavioral.lastTouchReport(a.table(0)) },

    fn("graft_windowed_funnel", "events", "stages", "horizon_ns")(
      """Time-windowed funnel census of an events view → (stage,
        |n_users): users counted at the deepest stage whose strict
        |first-completion chain finishes within `horizon_ns` of the
        |funnel start — q186 (round 8).""") { a =>
      Behavioral.funnelWindowed(a.table(0), a.strs(1), a.long(2)) },

    fn("graft_dn_retention", "events", "days = array(1, 7, 14)")(
      """Day-N retention of an events view (user_id, ts) → (n_day,
        |n_cohort, n_retained, retention_bp) — q187's exact
        |active-exactly-N-days-later curve (round 8).""") { a =>
      Behavioral.dnRetention(a.table(0), a.ints(1, Seq(1, 7, 14))) },

    fn("graft_growth_accounting", "events")(
      """Growth accounting of an events view (user_id, ts) → (d,
        |n_active, n_new, n_returning, cum_users) — q199's new/returning
        |decomposition with exact cumulative distinct users
        |(round 8).""") { a =>
      Behavioral.growthAccounting(a.table(0)) },

    fn("graft_life_table", "orders")(
      """Discrete-hazard life table of an orders view (o_custkey,
        |o_orderdate) → (q, n_risk, n_churn, hazard_ppm) — q198's
        |censoring-aware Kaplan–Meier input (round 8).""") { a =>
      Stats.lifeTable(a.table(0)) },

    fn("graft_deciles", "customers")(
      """Balance-decile report of a customer view (c_custkey, c_acctbal)
        |→ (decile, n_cust, hi, lo) — q189's NTILE cut under the
        |deterministic (balance desc, key) total order (round 8).""") { a =>
      Relational.ntileDeciles(a.table(0)) },

    fn("graft_kwic", "docs", "term", "ctx = 2")(
      """Keyword-in-context concordance of a docs view (doc_id, text) →
        |(doc_id, pos, left_ctx, right_ctx) — q201 (round 9).""") { a =>
      TextOps.kwic(a.table(0), a.str(1), a.int(2, 2)) },

    fn("graft_scd2", "events")(
      """SCD2 interval history of an events view (user_id, ts_ns,
        |event_id, event_type) → (user_id, version_no, state,
        |valid_from_us, valid_to_us, n_events) — q202's change-only run
        |collapse (round 9).""") { a =>
      Behavioral.scd2Intervals(a.table(0)) },

    fn("graft_local_clustering", "edges")(
      """Per-node local clustering of an edge-list view (u, v with u < v,
        |deduplicated) → (node, degree, n_tri, cc_ppm) — q204
        |(round 9).""") { a =>
      Graph.localClustering(a.table(0)) },

    fn("graft_skew_audit", "cols")(
      """Partition-key skew audit over an array of (label, view, key_col)
        |string arrays → (key_col, n_rows, n_keys, max_cnt,
        |top_share_ppm, skew_x1000) — q207 (round 9).""") { a =>
      Quality.skewAudit(a.tuples(0).map { case Seq(n, v, k) =>
        (n, SparkSession.active.table(v), k) }) },

    fn("graft_markov_steady", "events", "iters = 5")(
      """Markov steady-state distribution of an events view → (state,
        |pi_ppm) — q213's 5 integer power iterations (round 9).""") { a =>
      Behavioral.markovSteady(a.table(0), a.int(1, 5)) },

    fn("graft_fd_audit", "fds")(
      """Functional-dependency audit over an array of (name, view, lhs,
        |rhs) string arrays → (fd, n_lhs, n_violating, holds) — q215
        |(round 9).""") { a =>
      Quality.fdAudit(a.tuples(0).map { case Seq(n, v, l, r) =>
        (n, SparkSession.active.table(v), l, r) }) },

    fn("graft_join_cardinality", "joins")(
      """Join-cardinality audit over an array of (label, left_view,
        |left_key, right_view, right_key) string arrays → (join_key,
        |left_rows, right_rows, n_matched_keys, join_rows, amp_x1000) —
        |q221's exact-size-without-running-it planner readout
        |(round 9).""") { a =>
      val s = SparkSession.active
      Quality.joinCardinality(a.tuples(0).map { case Seq(n, lv, lk, rv, rk) =>
        (n, s.table(lv), lk, s.table(rv), rk) }) },

    fn("graft_peak_rate", "events")(
      """Peak ingest rate of an events view (event_type, ts_ns) →
        |(event_type, n_active_minutes, n_events, peak_per_min,
        |peak_minute, mean_per_min_e3, burst_x1000) — q222
        |(round 9).""") { a =>
      TimeSeries.peakRate(a.table(0)) },

    fn("graft_dist_drift", "docs")(
      """Length-distribution drift between the two ingest halves of a
        |documents view (doc_id, n_chars) → (bucket, n1, n2, s1_ppm,
        |s2_ppm, d_ppm) with a bucket = -1 TOTAL row carrying the exact
        |TVD — q223 (round 9).""") { a =>
      TextOps.distDrift(a.table(0)) },

    fn("graft_threshold_sweep", "pairs")(
      """Dedup threshold sweep over a verified-pairs view (doc_a, doc_b,
        |jaccard) → (threshold_ppm, n_pairs, n_docs) — q237
        |(round 10).""") { a =>
      Dedup.thresholdSweep(a.table(0)) },

    fn("graft_lsh_calibration", "docs", "pairs")(
      """MinHash calibration curve: docs view (doc_id, text) + verified
        |pairs view (doc_a, doc_b, jaccard) → (bucket, n_pairs,
        |agree_ppm) — q236 (round 10).""") { a =>
      Dedup.lshCalibration(a.table(0), a.table(1)) },

    fn("graft_cluster_reps", "docs", "components")(
      """Quality-representative selection: docs view (doc_id, text) +
        |components view (doc_id, component) → (component, cluster_size,
        |rep_id, rep_len) — q232 (round 10).""") { a =>
      Dedup.clusterReps(a.table(0), a.table(1)) },

    fn("graft_contamination_matrix", "pairs", "sources")(
      """Cross-source contamination matrix: pairs view (doc_a, doc_b) +
        |sources view (doc_id, source) → (source_a, source_b, n_pairs) —
        |q233 (round 10).""") { a =>
      Dedup.contaminationMatrix(a.table(0), a.table(1)) },

    fn("graft_ann_recall", "exact", "approx")(
      """ANN recall audit: exact and approximate top-k views (qid, rank,
        |neighbor, cos) → (qid, n_brute, n_found, recall_ppm) — q239
        |(round 10).""") { a =>
      Similarity.annRecall(a.table(0), a.table(1)) },

    fn("graft_apply_cdc", "old", "diff", "key", "value_cols")(
      """CDC apply / MERGE INTO: old-snapshot view + changelog view (key,
        |op ∈ {I,U,D}, new_* columns) → the reconstructed new snapshot —
        |q240 (round 10).""") { a =>
      Relational.applyCdc(a.table(0), a.table(1), a.str(2), a.strs(3)) },

    fn("graft_df_spectrum", "docs", "cap = 64")(
      """Shingle df spectrum of a docs view (doc_id, text) → (bucket,
        |n_shingles, postings_mass) — q243 (round 10): the measurement
        |behind a df-cap choice.""") { a =>
      Dedup.dfSpectrum(a.table(0), a.long(1, 64L)) },

    fn("graft_banding_sweep", "docs", "band_configs = array(8, 16, 32)")(
      """LSH banding sweep of a docs view (doc_id, text) → (bands,
        |n_candidates, n_verified, precision_ppm) — q244 (round 10): the
        |measured banding S-curve.""") { a =>
      Dedup.bandingSweep(a.table(0), a.ints(1, Seq(8, 16, 32))) },

    fn("graft_substring_spans", "docs", "min_len = 8")(
      """Any-length maximal duplicated-substring spans of a docs view
        |(doc_id, text) → (doc_a, pos_a, doc_b, pos_b, span_len) — q245
        |(round 11): suffix-array-grade exact-substring dedup via L-gram
        |grouping + diagonal islands.""") { a =>
      CorpusPrep.substringDupSpans(a.table(0), a.int(1, 8)) },

    fn("graft_batched_bpe_merges", "docs", "rounds = 3", "k = 2")(
      """Batched BPE training of a docs view (doc_id, text) →
        |(merge_round, merge_l, merge_r, weight) — q248 (round 11): top-k
        |conflict-free merges per round; k = 1 ≡ the sequential
        |trainer.""") { a =>
      TextOps.bpeTrainBatched(a.table(0), a.int(1, 3), a.int(2, 2)) },

    fn("graft_kmeans_centroids", "embeddings", "k = 8", "rounds = 3")(
      """Engine-replayable integer k-means of an embeddings view
        |(vec_id, embedding) → (cell, dim, c_e3), the trained centroid
        |table — q246 (round 11).""") { a =>
      Clustering.kMeansShared(a.table(0), a.int(1, 8), a.int(2, 3))._1
        .toDF("cell", "dim", "c_e3") },

    fn("graft_pq_codebooks", "embeddings", "sub_dim = 16", "k_sub = 8",
        "rounds = 2")(
      """Engine-replayable integer PRODUCT-QUANTIZATION codebooks of an
        |embeddings view (vec_id, embedding) → (s, cell, dim, c_e3), the
        |per-subspace trained codebook table — q282 (round 13): the
        |kMeansShared discipline with the subspace id in every grouping
        |key.""") { a =>
      Clustering.pqShared(a.table(0), a.int(1, 16), a.int(2, 8),
        a.int(3, 2))._2.toDF("s", "cell", "dim", "c_e3") },

    fn("graft_bm25", "docs", "top_k = 20")(
      """BM25 retrieval readout of a docs view (doc_id, text) → (rank,
        |doc_id, score, n_terms) — q247 (round 11): fixed-point BM25 over
        |the mid-head query-term set, postings-bounded.""") { a =>
      TextOps.bm25TopDocs(a.table(0), a.int(1, 20)) },

    fn("graft_bpe_encode", "docs", "merges")(
      """BPE ENCODER — apply a merges view (merge_round, merge_l,
        |merge_r) to a docs view in table order; the final segmentation
        |state is (w, c, pos, sym) — q249's inference-side primitive.
        |Collects the merges when the query is analyzed.""") { a =>
      val merges = a.table(1).orderBy("merge_round")
        .select("merge_l", "merge_r").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      TextOps.bpeEncodeState(a.table(0), merges) },

    fn("graft_hits", "edges", "side", "rounds = 3")(
      """HITS hubs & authorities of an edges view (hub, auth) in e6:
        |side 'hub' → (hub, h), side 'auth' → (auth, a) — q250
        |(round 11).""") { a =>
      val (hub, auth) = Graph.hits(a.table(0), a.int(2, 3))
      a.str(1) match {
        case "hub" => hub
        case "auth" => auth
        case other => throw new IllegalArgumentException(
          s"graft_hits: side must be 'hub' or 'auth', got '$other'")
      } },

    fn("graft_principal_dir", "embeddings", "rounds = 3")(
      """Principal direction of an embeddings view (vec_id, embedding) →
        |(dim, v_e6) — q251 (round 11).""") { a =>
      Similarity.principalDirection(a.table(0), a.int(1, 3)) },

    fn("graft_bm25_multi", "docs", "queries", "top_k = 10")(
      """Multi-query BM25 over a docs view (doc_id, text) and a query
        |view (query_id, term) → (query_id, rank, doc_id, score, n_terms)
        |— q255 (round 12): the batched-serving shape.""") { a =>
      TextOps.bm25TopDocsMulti(a.table(0), a.table(1), a.int(2, 10)) },

    fn("graft_postings_delta", "docs")(
      """Postings delta between a base docs view and its derived next
        |snapshot → (doc_id, n_added, n_removed, status) — q261
        |(round 12).""") { a =>
      TextOps.postingsDelta(a.table(0)) },

    fn("graft_katz", "edges", "iters = 3")(
      """Katz centrality of an undirected edges view (u, v) → (node,
        |score) — q262 (round 12).""") { a =>
      Graph.katzCentrality(a.table(0), a.int(1, 3)) },

    fn("graft_quant_audit", "embeddings")(
      """Int8 quantization error audit of an embeddings view
        |(vec_id, label, embedding) → per-label error budget — q264
        |(round 12).""") { a =>
      Similarity.quantAudit(a.table(0)) },

    fn("graft_quality_score", "docs")(
      """Quality-classifier scores for a (doc_id, text) view — q272's
        |hashed-n-gram integer linear scorer (round 13): per doc token/
        |feature counts, raw + mean score, keep flag.""") { a =>
      CorpusPrep.qualityScore(a.table(0)) },

    fn("graft_surprisal_score", "docs")(
      """Per-doc bigram mean-surprisal score + keep flag for a
        |(doc_id, text) view — q294's perplexity-surrogate scorer
        |(round 14), the LM-filter sibling of graft_quality_score.""") { a =>
      CorpusPrep.surprisalScore(a.table(0)) },

    fn("graft_prf_expansion", "docs")(
      """Pseudo-relevance-feedback expanded BM25 top-20 for a
        |(doc_id, text) view — q275's two-stage RM3-lite loop
        |(round 13).""") { a =>
      TextOps.prfExpansion(a.table(0)) },

    fn("graft_phash_near_dup", "signatures", "max_hamming = 6",
        "n_bands = 4")(
      """Perceptual near-dup pairs (a, b, hamming) for a (media_id,
        |phash) signature view — qm7's Hamming banding + exact bit_count
        |verify (round 13), expressed directly in SQL over the signature
        |table so any signature source (dHash, simhash) can ride it.
        |Round 14: parameterized by band count (must divide 56;
        |2/4/7/8/14 all do) — B bands of 56/B bits guarantee recall 1
        |within Hamming B−1 (pigeonhole), the trade qm9 measures.""") { a =>
      val (sigView, maxHamming, nBands) = (a.str(0), a.int(1, 6), a.int(2, 4))
      require(nBands >= 1 && 56 % nBands == 0, s"bands must divide 56")
      val w = 56 / nBands
      val divisors = (0 until nBands).map(b => s"${1L << (b * w)}L")
        .mkString("array(", ", ", ")")
      val bandIdx = (0 until nBands).mkString("array(", ", ", ")")
      SparkSession.active.sql(
        s"""WITH bands AS (
           |  SELECT media_id, phash, b,
           |    (phash div element_at($divisors, b + 1)) % ${1L << w}
           |      AS bv
           |  FROM $sigView
           |  LATERAL VIEW explode($bandIdx) t AS b),
           |cand AS (
           |  SELECT DISTINCT x.media_id AS a, y.media_id AS b,
           |    x.phash AS pa, y.phash AS pb
           |  FROM bands x JOIN bands y
           |    ON x.b = y.b AND x.bv = y.bv AND x.media_id < y.media_id)
           |SELECT a, b, CAST(bit_count(pa ^ pb) AS BIGINT) AS hamming
           |FROM cand WHERE bit_count(pa ^ pb) <= $maxHamming"""
          .stripMargin) },

    fn("graft_quantile_sketch", "values")(
      """Quantile-sketch register cascade (q302, round 15): for a
        |(v, ok, ln) BIGINT values view, the deterministic MRL cascade at
        |the graded shard/budget config — the final compactor state
        |(kb, shard, v, ok, ln, w). One body with the gated q302 state
        |(Percentiles.sketchFromValues).""") { a =>
      Percentiles.sketchFromValues(a.table(0)) },

    fn("graft_louvain", "edges", "rounds = 3")(
      """Louvain one-level communities (q305, round 15) for a (u, v)
        |edges view — synchronous integer-gain rounds.""") { a =>
      Graph.louvainRounds(a.table(0), a.int(1, 3)) },

    fn("graft_unigram_encode", "docs")(
      """Unigram-LM segmentation state (q304, round 15) for a (text) docs
        |view — per eligible word: (w, c, len, n, fs).""") { a =>
      TextOps.uniStateOf(a.table(0)) },

    fn("graft_serp_dedup", "results", "components")(
      """SERP near-dup collapse (q301, round 15): a
        |(orig_rank, doc_id, score) result-list view collapsed by a
        |(doc_id, component) label view.""") { a =>
      Dedup.serpDedupCollapse(a.table(0), a.table(1)) },

    fn("graft_decontam_overlap", "docs", "bench", "k")(
      """Decontamination overlap counts (q62/q306, round 15): per doc of
        |`docs`, the distinct k-shingle overlap with `bench` — cut at any
        |τ downstream (the q306 sweep reads one result at several
        |thresholds).""") { a =>
      Dedup.overlapCounts(a.table(0), a.table(1), a.int(2)) },

    fn("graft_wordpiece_encode", "docs")(
      """WordPiece greedy segmentation (q312, round 16) for a (text) docs
        |view — per eligible word: (w, c, len, n); the same shared vocab
        |head graft_unigram_encode reads.""") { a =>
      TextOps.wordPieceOf(TextOps.uniEdgesOf(a.table(0))) },

    fn("graft_importance_weights", "docs", "target_ids")(
      """DSIR importance weights + deterministic keep flags for a
        |(doc_id, text) docs view against a (doc_id) target-ids
        |view.""") { a =>
      CorpusPrep.importanceWeights(a.table(0), a.table(1)) },

    fn("graft_louvain_two_level", "edges")(
      """Two-level Louvain (q311, round 16) for a (u, v) edges view — per
        |node: (community = level-1, c2 = level-2).""") { a =>
      Graph.louvainTwoLevelOf(a.table(0))._4 })
}
