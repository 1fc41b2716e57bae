package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** SQL-only access to the operator library: a SQL user with just
  * `spark.sql` (natives registered) can run the same near-dup pipeline
  * the Scala operators build, and the `graft_*` table functions expose
  * whole operators (as-of, dedup, kNN, …) to SQL sessions. */
class SqlSurfaceSpec extends SparkSpecBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    SqlSurface.register(spark)
  }

  private lazy val ready: Unit = SqlSurface.registerTables(spark, sf)

  /** Names of the table functions called so far; the census test at the
    * end checks them against the registry. */
  private val called = collection.mutable.Set.empty[String]

  /** Every table-function call of this spec goes through here: `call` is
    * the SQL invocation, e.g. "graft_knn('embeddings', 'embeddings', 5)". */
  private def tvf(call: String): DataFrame = {
    called += call.takeWhile(_ != '(')
    spark.sql(s"SELECT * FROM $call")
  }

  test("end-to-end SQL near-dup: hyperplane-LSH bucket join + native " +
      "cosine verify, equal to the Scala operator") {
    ready
    val sqlPairs = spark.sql(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v
        |  FROM embeddings),
        |b AS (SELECT vec_id, v, graft_hyperplane(v, 8) AS bucket FROM v)
        |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
        |  graft_cosine(a.v, c.v) AS cos
        |FROM b a JOIN b c
        |  ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        |WHERE graft_cosine(a.v, c.v) >= 0.9""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scalaPairs = Dedup.embeddingNearDupPairs(
        Tables.load(spark, sf, "embeddings"), planes = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sqlPairs == scalaPairs)
  }

  test("SQL minhash signatures: graft_minhash callable from spark.sql") {
    ready
    val rows = spark.sql(
      """SELECT doc_id, graft_minhash(
        |  array_distinct(transform(
        |    sequence(0, greatest(size(split(text, ' ')) - 3, 0)),
        |    i -> xxhash64(concat_ws(' ', slice(split(text, ' '), i + 1, 3)))
        |  )), 64) AS sig
        |FROM documents LIMIT 5""".stripMargin).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getSeq[Long](1).length == 64))
    // signature must equal the Scala-side builder on the same doc
    val ids = rows.map(_.getLong(0)).toSet
    val viaScala = Tables.load(spark, sf, "documents")
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), call_function("graft_minhash",
        array_distinct(transform(
          Dedup.shinglesOf(split(col("text"), " "), 3),
          s => xxhash64(s))), lit(64)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach(r => assert(r.getSeq[Long](1) == viaScala(r.getLong(0))))
  }

  test("view builders expose whole operators to SQL sessions") {
    ready
    tvf("graft_near_dup_pairs('documents')")
      .createOrReplaceTempView("neardup_pairs")
    tvf("graft_dedup_survivors('documents')")
      .createOrReplaceTempView("survivors")
    tvf("graft_knn('embeddings', 'embeddings', 5)")
      .createOrReplaceTempView("knn")
    // pair view: queryable, and consistent with the survivors view
    val nPairs = spark.sql("SELECT COUNT(*) AS c FROM neardup_pairs")
      .collect().head.getLong(0)
    val directPairs = Dedup.ngramJaccardPairs(
      Tables.load(spark, sf, "documents")).count()
    assert(nPairs == directPairs)
    val nDocs = spark.sql("SELECT COUNT(*) AS c FROM documents")
      .collect().head.getLong(0)
    val nSurv = spark.sql("SELECT COUNT(*) AS c FROM survivors")
      .collect().head.getLong(0)
    val nLosers = spark.sql(
      "SELECT COUNT(DISTINCT doc_b) AS c FROM neardup_pairs")
      .collect().head.getLong(0)
    assert(nSurv == nDocs - nLosers)
    // explicit defaults: SQL 0.5 is a Decimal literal, read as a double
    assert(tvf("graft_near_dup_pairs('documents', 3, 0.5)").count()
      == nPairs)
    // a wrong argument count names the function and its signature
    val arity = intercept[IllegalArgumentException](
      tvf("graft_knn('embeddings')"))
    assert(arity.getMessage.contains("graft_knn(vectors, queries, k)"))
    // a fractional k is rejected, not truncated
    intercept[IllegalArgumentException](
      tvf("graft_knn('embeddings', 'embeddings', 2.5)"))
    // kNN view: plain SQL aggregation over an operator view
    val worst = spark.sql(
      """SELECT qid, MIN(cos) AS worst FROM knn
        |GROUP BY qid ORDER BY qid""".stripMargin).collect()
    assert(worst.length == spark.table("embeddings").count().toInt)
    // as-of view over events/orders, queried through SQL
    spark.sql(
      """SELECT o_custkey AS user_id, o_orderdate AS ts,
        |  MAX(o_orderkey) AS asof_ok
        |FROM orders GROUP BY 1, 2""".stripMargin)
      .createOrReplaceTempView("order_snap")
    spark.sql("SELECT event_id, user_id, ts FROM events")
      .createOrReplaceTempView("ev")
    tvf("graft_asof_join('ev', 'order_snap', 'user_id', 'ts', " +
        "array('asof_ok'))").createOrReplaceTempView("ev_asof")
    val n = spark.sql("SELECT COUNT(*) AS c FROM ev_asof")
      .collect().head.getLong(0)
    assert(n == Tables.events(spark, sf).count())
  }

  test("chunk / funnel / cohort view builders reach the operators " +
      "from plain SQL") {
    SqlSurface.registerTables(spark, sf)
    tvf("graft_chunks('documents')").createOrReplaceTempView("doc_chunks")
    val chunked = spark.sql(
      "SELECT COUNT(DISTINCT doc_id) AS d FROM doc_chunks")
      .collect().head.getLong(0)
    assert(chunked == Tables.load(spark, sf, "documents").count())
    tvf("graft_funnel('events', " +
        "array('signup', 'view', 'click', 'purchase'))")
      .createOrReplaceTempView("funnel_t")
    tvf("graft_cohort('events')").createOrReplaceTempView("cohorts")
    // SQL-side funnel depth histogram ≡ the q73 operator result
    val sqlDepths = spark.sql(
      """SELECT CAST((CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) +
        |  (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS stage, COUNT(*) AS n_users
        |FROM funnel_t GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val opDepths = graft.operators.Behavioral.q73Funnel(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlDepths == opDepths)
    assert(spark.sql("SELECT SUM(n_users) FROM cohorts WHERE " +
      "week_offset = 0").collect().head.getLong(0) ==
      Tables.events(spark, sf).select("user_id").distinct().count())
  }

  test("corpus-report / collocation view builders match the operators") {
    SqlSurface.registerTables(spark, sf)
    tvf("graft_corpus_report('documents')")
      .createOrReplaceTempView("corpus_card")
    tvf("graft_collocations('documents', 5L, 50)")
      .createOrReplaceTempView("collocs")
    val viaSql = spark.sql(
      "SELECT source, n_docs, tok_sum, dup_bp FROM corpus_card")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val direct = graft.operators.CorpusPrep.corpusReport(
        Tables.load(spark, sf, "documents"))
      .select("source", "n_docs", "tok_sum", "dup_bp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(viaSql == direct && viaSql.nonEmpty)
    // collocation view is queryable SQL over the ranked operator output
    val top = spark.sql(
      """SELECT bigram, lift_ppm FROM collocs
        |ORDER BY lift_ppm DESC, bigram LIMIT 1""".stripMargin).collect()
    val directTop = graft.operators.TextOps.collocations(
      Tables.load(spark, sf, "documents")).collect().head
    assert(top.head.getString(0) == directTop.getString(0))
    assert(top.head.getLong(1) == directTop.getLong(4))
  }

  test("graph / winnow / quality view builders reach the operators " +
      "from plain SQL") {
    import spark.implicits._
    SqlSurface.registerTables(spark, sf)
    // K4 minus one edge (GraphSpec golden): 2 triangles, closure 75%
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("u", "v").createOrReplaceTempView("edges")
    tvf("graft_triangle_census('edges')").createOrReplaceTempView("census")
    val c = spark.sql(
      "SELECT n_triangles, closure_ppm FROM census").collect().head
    assert((c.getLong(0), c.getLong(1)) == ((2L, 750000L)))
    tvf("graft_page_rank('edges', 5)").createOrReplaceTempView("pr")
    assert(spark.sql("SELECT COUNT(*) FROM pr").collect().head
      .getLong(0) == 4L)
    tvf("graft_winnow('documents')").createOrReplaceTempView("prints")
    val perDoc = spark.sql(
      "SELECT COUNT(DISTINCT doc_id) FROM prints").collect().head
    assert(perDoc.getLong(0) ==
      Tables.load(spark, sf, "documents").count())
    tvf("graft_quality_report()").createOrReplaceTempView("dq")
    val bad = spark.sql("SELECT SUM(n_bad) FROM dq").collect().head
    assert(bad.getLong(0) == 0L, "fixture is clean")
  }

  test("heavy-hitters view builder: SQL ≡ Scala operator (advice r5)") {
    SqlSurface.registerTables(spark, sf)
    spark.sql("SELECT explode(split(text, ' ')) AS w FROM documents")
      .createOrReplaceTempView("doc_tokens")
    tvf("graft_heavy_hitters('doc_tokens', 'w', 400)")
      .createOrReplaceTempView("hh")
    val viaSql = spark.sql(
        "SELECT w, cnt, freq_bp FROM hh ORDER BY cnt DESC, w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    val direct = graft.operators.TextOps.heavyHittersMG(
        spark.table("doc_tokens"), "w", 400)
      .orderBy(org.apache.spark.sql.functions.col("cnt").desc,
        org.apache.spark.sql.functions.col("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(viaSql == direct && viaSql.nonEmpty)
  }

  test("snapshot-diff and interval-join view builders: SQL ≡ Scala " +
      "(round-6 whole-operators reachable from plain SQL)") {
    SqlSurface.registerTables(spark, sf)
    spark.sql("SELECT o_orderkey, o_orderstatus FROM orders")
      .createOrReplaceTempView("v_old")
    spark.sql("SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN 'Z' " +
        "ELSE o_orderstatus END AS o_orderstatus FROM orders " +
        "WHERE o_orderkey % 11 <> 0")
      .createOrReplaceTempView("v_new")
    tvf("graft_snapshot_diff('v_old', 'v_new', 'o_orderkey', " +
        "array('o_orderstatus'))").createOrReplaceTempView("diff")
    val viaSql = spark.sql("SELECT o_orderkey, op FROM diff")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val direct = graft.operators.Relational.snapshotDiff(
        spark.table("v_old"), spark.table("v_new"),
        "o_orderkey", Seq("o_orderstatus"))
      .select("o_orderkey", "op")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(viaSql == direct && viaSql.nonEmpty)
    tvf("graft_interval_join('events', 'events', 'click', " +
        "'purchase', 3600)").createOrReplaceTempView("attrib")
    val nSql = spark.sql("SELECT COUNT(*) FROM attrib")
      .collect().head.getLong(0)
    val nDirect = graft.operators.Behavioral
      .q128Attribution(spark, sf).count()
    assert(nSql == nDirect)
  }

  test("round-7 family view builders (sessions / rolling WAU / LPA + " +
      "modularity / Holt / OHLC): SQL ≡ Scala operator") {
    SqlSurface.registerTables(spark, sf)
    import org.apache.spark.sql.functions.{col, desc}

    tvf("graft_sessions('events')").createOrReplaceTempView("sess")
    val sSql = spark.sql("SELECT user_id, event_id, session_no FROM sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sDir = graft.operators.Behavioral.sessionized(spark.table("events"))
      .select("user_id", "event_id", "session_no")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sSql == sDir && sSql.nonEmpty)

    tvf("graft_rolling_wau('events')").createOrReplaceTempView("wau")
    val wSql = spark.sql("SELECT d, wau7 FROM wau")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
    val wDir = graft.operators.Behavioral.rollingWau(spark.table("events"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
    assert(wSql == wDir && wSql.nonEmpty)

    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("u", "v").createOrReplaceTempView("lpa_edges")
    tvf("graft_communities('lpa_edges')").createOrReplaceTempView("comm")
    val cSql = spark.sql("SELECT node, community FROM comm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cDir = graft.operators.Graph
      .labelPropagation(spark.table("lpa_edges"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cSql == cDir && cSql.nonEmpty)
    tvf("graft_modularity('lpa_edges', 'comm')")
      .createOrReplaceTempView("modu")
    val mSql = spark.sql("SELECT community, q_num FROM modu")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mDir = graft.operators.Graph.modularityByCommunity(
        spark.table("lpa_edges"), spark.table("comm"))
      .select("community", "q_num")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mSql == mDir && mSql.nonEmpty)

    spark.sql("SELECT event_type, unix_date(to_date(ts)) AS dnum, " +
        "SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS v " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1, 2")
      .createOrReplaceTempView("daily")
    tvf("graft_holt('daily')").createOrReplaceTempView("holt")
    val hSql = spark.sql(
        "SELECT event_type, level_e3, trend_e3 FROM holt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val hDir = graft.operators.Stats.holtByType(spark.table("daily"))
      .select("event_type", "level_e3", "trend_e3")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hSql == hDir && hSql.nonEmpty)

    tvf("graft_ohlc('events')").createOrReplaceTempView("ohlc")
    val oSql = spark.sql(
        "SELECT event_type, day, open, close FROM ohlc")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r.getDouble(3))).toSet
    val oDir = graft.operators.TimeSeries.ohlcBars(spark.table("events"))
      .select("event_type", "day", "open", "close")
      .collect().map(r => (r.getString(0), r.getDate(1).toString,
        r.getDouble(2), r.getDouble(3))).toSet
    assert(oSql == oDir && oSql.nonEmpty)
  }

  test("round-8 family view builders (attribution / windowed funnel / " +
      "D-N retention / growth accounting / life table / deciles): " +
      "SQL ≡ Scala operator (round-8 verdict item 5)") {
    SqlSurface.registerTables(spark, sf)

    tvf("graft_attribution('events')").createOrReplaceTempView("attrib")
    val aSql = spark.sql(
        "SELECT channel, n_conv, revenue_cents FROM attrib")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val aDir = graft.operators.Behavioral
      .lastTouchReport(spark.table("events"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(aSql == aDir && aSql.nonEmpty)

    tvf("graft_windowed_funnel('events', " +
        "array('signup', 'view', 'click', 'purchase'), 3600000000000L)")
      .createOrReplaceTempView("wfunnel")
    val fSql = spark.sql("SELECT stage, n_users FROM wfunnel")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fDir = graft.operators.Behavioral.q186FunnelWindowed(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fSql == fDir && fSql.nonEmpty)

    tvf("graft_dn_retention('events')").createOrReplaceTempView("dnret")
    val rSql = spark.sql(
        "SELECT n_day, n_retained, retention_bp FROM dnret")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val rDir = graft.operators.Behavioral.q187DnRetention(spark, sf)
      .select("n_day", "n_retained", "retention_bp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(rSql == rDir && rSql.nonEmpty)

    tvf("graft_growth_accounting('events')")
      .createOrReplaceTempView("growth")
    val gSql = spark.sql(
        "SELECT d, n_active, n_new, n_returning, cum_users FROM growth")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val gDir = graft.operators.Behavioral.q199GrowthAccounting(spark, sf)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(gSql == gDir && gSql.nonEmpty)

    tvf("graft_life_table('orders')").createOrReplaceTempView("lifetab")
    val lSql = spark.sql(
        "SELECT q, n_risk, n_churn, hazard_ppm FROM lifetab")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val lDir = graft.operators.Stats.q198LifeTable(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(lSql == lDir && lSql.nonEmpty)

    tvf("graft_deciles('customer')").createOrReplaceTempView("deciles")
    val dSql = spark.sql("SELECT decile, n_cust, hi, lo FROM deciles")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    val dDir = graft.operators.Relational.q189NtileDeciles(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(dSql == dDir && dSql.nonEmpty)
  }

  test("round-9 family view builders (kwic / scd2 / local clustering " +
      "/ skew audit / markov / fd audit): SQL ≡ Scala operator") {
    SqlSurface.registerTables(spark, sf)

    tvf("graft_kwic('documents', 'scan')").createOrReplaceTempView("kwic")
    val kSql = spark.sql(
        "SELECT doc_id, pos, left_ctx, right_ctx FROM kwic")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    val kDir = graft.operators.TextOps
      .kwic(spark.table("documents"), "scan")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3))).toSet
    assert(kSql == kDir && kSql.nonEmpty)

    tvf("graft_scd2('events')").createOrReplaceTempView("scd2")
    val sSql = spark.sql(
        "SELECT user_id, version_no, state, n_events FROM scd2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val sDir = graft.operators.Behavioral
      .scd2Intervals(spark.table("events"))
      .select("user_id", "version_no", "state", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(sSql == sDir && sSql.nonEmpty)

    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("u", "v").createOrReplaceTempView("cc_edges")
    tvf("graft_local_clustering('cc_edges')").createOrReplaceTempView("lcc")
    val cSql = spark.sql("SELECT node, cc_ppm FROM lcc")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cSql == Set((1L, 666666L), (2L, 666666L), (3L, 1000000L),
      (4L, 1000000L)))

    tvf("graft_skew_audit(" +
        "array(array('orders.o_custkey', 'orders', 'o_custkey')))")
      .createOrReplaceTempView("skew")
    val wSql = spark.sql(
        "SELECT key_col, n_rows, n_keys, max_cnt FROM skew")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val wDir = graft.operators.Quality.skewAudit(
        Seq(("orders.o_custkey", spark.table("orders"), "o_custkey")))
      .select("key_col", "n_rows", "n_keys", "max_cnt")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(wSql == wDir && wSql.nonEmpty)

    tvf("graft_markov_steady('events')").createOrReplaceTempView("markov")
    val mSql = spark.sql("SELECT state, pi_ppm FROM markov")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val mDir = graft.operators.Behavioral.q213MarkovSteady(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(mSql == mDir && mSql.nonEmpty)

    tvf("graft_fd_audit(array(" +
        "array('part: p_partkey->p_brand', 'part', 'p_partkey', 'p_brand'), " +
        "array('events: user_id->event_type', 'events', 'user_id', " +
        "'event_type')))").createOrReplaceTempView("fds")
    val fSql = spark.sql("SELECT fd, holds FROM fds")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(fSql("part: p_partkey->p_brand") == 1L)
    assert(fSql("events: user_id->event_type") == 0L)
  }

  test("round-9 batch-5 view builders (join cardinality / peak rate / " +
      "dist drift): SQL ≡ Scala operator") {
    SqlSurface.registerTables(spark, sf)

    tvf("graft_join_cardinality(array(" +
        "array('o=l', 'orders', 'o_orderkey', 'lineitem', 'l_orderkey')))")
      .createOrReplaceTempView("jcard")
    val jSql = spark.sql(
        "SELECT join_key, join_rows, amp_x1000 FROM jcard")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val jDir = graft.operators.Quality.joinCardinality(
        Seq(("o=l", spark.table("orders"), "o_orderkey",
          spark.table("lineitem"), "l_orderkey")))
      .select("join_key", "join_rows", "amp_x1000")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(jSql.toSeq == jDir.toSeq && jSql.nonEmpty)

    tvf("graft_peak_rate('events')").createOrReplaceTempView("peak")
    val pSql = spark.sql(
        "SELECT event_type, peak_per_min, peak_minute FROM peak")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    val pDir = graft.operators.TimeSeries.q222PeakRate(spark, sf)
      .select("event_type", "peak_per_min", "peak_minute")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pSql == pDir && pSql.nonEmpty)

    tvf("graft_dist_drift('documents')").createOrReplaceTempView("drift")
    val dSql = spark.sql("SELECT bucket, d_ppm FROM drift")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dDir = graft.operators.TextOps.q223DistDrift(spark, sf)
      .select("bucket", "d_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dSql == dDir && dSql.contains(dSql.find(_._1 == -1L).get))
    assert(dSql.exists(_._1 == -1L), "TOTAL row present")
  }

  test("round-10 family view builders (threshold sweep / calibration / " +
      "cluster reps / contamination / df spectrum / banding sweep / " +
      "CDC apply / ANN recall): SQL ≡ Scala operator") {
    SqlSurface.registerTables(spark, sf)
    Dedup.docsWithNearDups(spark.table("documents"))
      .createOrReplaceTempView("nd_docs")

    // pair-set-derived family over the uncapped pair set as a view
    // (the builder's capped default is exercised by the round-3 test;
    // equality against the memoized queries needs the uncapped set)
    Dedup.exactPairs(spark, sf).createOrReplaceTempView("nd_pairs")
    tvf("graft_threshold_sweep('nd_pairs')")
      .createOrReplaceTempView("tsweep")
    val tSql = spark.sql(
        "SELECT threshold_ppm, n_pairs, n_docs FROM tsweep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val tDir = Dedup.q237ThresholdSweep(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(tSql == tDir && tSql.nonEmpty)

    tvf("graft_lsh_calibration('nd_docs', 'nd_pairs')")
      .createOrReplaceTempView("calib")
    val cSql = spark.sql("SELECT bucket, n_pairs, agree_ppm FROM calib")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val cDir = Dedup.q236LshCalibration(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(cSql == cDir && cSql.nonEmpty)

    tvf("graft_df_spectrum('nd_docs')").createOrReplaceTempView("dfspec")
    val fSql = spark.sql(
        "SELECT bucket, n_shingles, postings_mass FROM dfspec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val fDir = Dedup.q243DfSpectrum(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(fSql == fDir && fSql.nonEmpty)

    tvf("graft_banding_sweep('nd_docs', array(16))")
      .createOrReplaceTempView("bsweep")
    val bSql = spark.sql(
        "SELECT bands, n_candidates, n_verified FROM bsweep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(bSql.length == 1 && bSql.head._1 == 16L
      && bSql.head._2 >= bSql.head._3 && bSql.head._3 > 0L)

    // CDC apply round-trip through views
    spark.table("orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("snap_old")
    graft.operators.Relational.q129SnapshotDiff(spark, sf)
      .createOrReplaceTempView("snap_diff")
    tvf("graft_apply_cdc('snap_old', 'snap_diff', 'o_orderkey', " +
        "array('o_orderstatus', 'o_totalprice'))")
      .createOrReplaceTempView("snap_new")
    val aSql = spark.sql(
        "SELECT o_orderkey, o_orderstatus FROM snap_new")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val aDir = graft.operators.Relational.q240ApplyCdc(spark, sf)
      .select("o_orderkey", "o_orderstatus")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(aSql == aDir && aSql.nonEmpty)

    // ANN recall over the gated top-k queries as views
    graft.operators.Similarity.q34aKnnBrute(spark, sf)
      .createOrReplaceTempView("knn_exact")
    graft.operators.Similarity.q34bKnnLsh(spark, sf)
      .createOrReplaceTempView("knn_lsh")
    tvf("graft_ann_recall('knn_exact', 'knn_lsh')")
      .createOrReplaceTempView("recall")
    val rSql = spark.sql("SELECT qid, recall_ppm FROM recall")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rDir = graft.operators.Similarity.q239AnnRecall(spark, sf)
      .select("qid", "recall_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rSql == rDir && rSql.nonEmpty)

    // contamination + cluster reps over the memoized artifacts as views
    val base = spark.table("documents").select(col("doc_id"),
      col("source"))
    base.union(base.select(col("doc_id") + lit(Dedup.NearDupIdOffset),
        col("source")))
      .createOrReplaceTempView("nd_sources")
    Dedup.q33gDedupComponents(spark, sf)
      .createOrReplaceTempView("nd_comps")
    tvf("graft_contamination_matrix('nd_pairs', 'nd_sources')")
      .createOrReplaceTempView("contam")
    val mSql = spark.sql(
        "SELECT source_a, source_b, n_pairs FROM contam")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    val mDir = Dedup.q233ContaminationMatrix(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(mSql == mDir && mSql.nonEmpty)

    tvf("graft_cluster_reps('nd_docs', 'nd_comps')")
      .createOrReplaceTempView("reps")
    val pSql = spark.sql(
        "SELECT component, rep_id, rep_len FROM reps")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val pDir = Dedup.q232ClusterReps(spark, sf)
      .select("component", "rep_id", "rep_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pSql == pDir && pSql.nonEmpty)
  }

  test("round-11 family view builders (substring spans / batched BPE / " +
      "k-means centroids / BM25): SQL ≡ Scala operator") {
    SqlSurface.registerTables(spark, sf)

    tvf("graft_substring_spans('documents')")
      .createOrReplaceTempView("subspans")
    val sSql = spark.sql(
        "SELECT doc_a, pos_a, doc_b, pos_b, span_len FROM subspans")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val sDir = graft.operators.CorpusPrep.q245SubstringDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(sSql == sDir && sSql.nonEmpty)

    tvf("graft_batched_bpe_merges('documents')")
      .createOrReplaceTempView("bpeb")
    val bSql = spark.sql(
        "SELECT merge_round, merge_l, merge_r, weight FROM bpeb")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    val bDir = graft.operators.TextOps.q248BpeBatched(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(bSql == bDir && bSql.nonEmpty)

    tvf("graft_kmeans_centroids('embeddings')")
      .createOrReplaceTempView("kmc")
    val kSql = spark.sql("SELECT cell, dim, c_e3 FROM kmc")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val kDir = graft.operators.Similarity.q246Kmeans(spark, sf)
      .select("cell", "dim", "c_e3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(kSql == kDir && kSql.nonEmpty)

    // PQ codebooks view ≡ the gated q282 chain's final codebooks
    // (member/distortion readout keys (s, cell) resolve against it)
    tvf("graft_pq_codebooks('embeddings')").createOrReplaceTempView("pqc")
    val pSql = spark.sql("SELECT s, cell, dim, c_e3 FROM pqc")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val pKeys = graft.operators.Similarity
      .queries("q282_pq_train")(spark, sf)
      .select("s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pSql.nonEmpty &&
      pKeys.subsetOf(pSql.map(t => (t._1, t._2))))

    // encoder: train on documents (via the batched view at k = 1 ≡
    // sequential), then encode — final per-word token counts must
    // equal the training state's (the q249 invariant through SQL)
    tvf("graft_batched_bpe_merges('documents', 6, 1)")
      .createOrReplaceTempView("bpem")
    tvf("graft_bpe_encode('documents', 'bpem')")
      .createOrReplaceTempView("bpenc")
    val eSql = spark.sql(
        "SELECT w, COUNT(*) AS n FROM bpenc GROUP BY w")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val eDir = graft.operators.TextOps.bpeState6(spark, sf)._2
      .groupBy("w").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(eSql == eDir && eSql.nonEmpty)

    spark.sql("""SELECT o.o_custkey AS hub, l.l_partkey AS auth
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2""").createOrReplaceTempView("purchase_edges")
    tvf("graft_hits('purchase_edges', 'hub')")
      .createOrReplaceTempView("hubv")
    tvf("graft_hits('purchase_edges', 'auth')")
      .createOrReplaceTempView("authv")
    val hSql = spark.sql("SELECT hub, h FROM hubv ORDER BY h DESC, hub LIMIT 5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val hDir = graft.operators.Graph.q250Hits(spark, sf)
      .filter(col("kind") === "hub").orderBy("rank").limit(5)
      .select("node_id", "score_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(hSql == hDir && hSql.nonEmpty)
    val aSql = spark.sql(
        "SELECT auth, a FROM authv ORDER BY a DESC, auth LIMIT 5")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val aDir = graft.operators.Graph.q250Hits(spark, sf)
      .filter(col("kind") === "authority").orderBy("rank").limit(5)
      .select("node_id", "score_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(aSql == aDir && aSql.nonEmpty)

    tvf("graft_principal_dir('embeddings')").createOrReplaceTempView("pdir")
    val pSql2 = spark.sql("SELECT dim, v_e6 FROM pdir")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pDir2 = graft.operators.Similarity.q251PrincipalDir(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pSql2 == pDir2 && pSql2.nonEmpty)

    tvf("graft_bm25('documents')").createOrReplaceTempView("bm25")
    val mSql = spark.sql(
        "SELECT rank, doc_id, score, n_terms FROM bm25")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val mDir = graft.operators.TextOps.q247Bm25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(mSql == mDir && mSql.nonEmpty)
  }

  test("round-12 view builders ≡ the Scala operators (multi-query " +
      "BM25, postings delta, Katz, quantization audit)") {
    SqlSurface.registerTables(spark, sf)

    // multi-query BM25 over an ad-hoc 2-query table
    spark.sql("""SELECT CAST(1 AS BIGINT) AS query_id, term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id)
          DESC, term) AS r
        FROM (SELECT doc_id, explode(split(text, ' ')) AS term
              FROM documents) GROUP BY term) WHERE r BETWEEN 11 AND 15
      UNION ALL
      SELECT CAST(2 AS BIGINT) AS query_id, term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(DISTINCT doc_id)
          DESC, term) AS r
        FROM (SELECT doc_id, explode(split(text, ' ')) AS term
              FROM documents) GROUP BY term) WHERE r BETWEEN 16 AND 20
      """).createOrReplaceTempView("qtable")
    tvf("graft_bm25_multi('documents', 'qtable')")
      .createOrReplaceTempView("bm25m")
    val mmSql = spark.sql(
        "SELECT query_id, rank, doc_id, score FROM bm25m")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val mmDir = graft.operators.TextOps.q255Bm25Multi(spark, sf)
      .filter(col("query_id") <= 2)
      .select("query_id", "rank", "doc_id", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(mmSql == mmDir && mmSql.nonEmpty)

    tvf("graft_postings_delta('documents')")
      .createOrReplaceTempView("pdelta")
    val dSql = spark.sql(
        "SELECT doc_id, n_added, n_removed, status FROM pdelta")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    val dDir = graft.operators.TextOps.q261PostingsDelta(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(dSql == dDir && dSql.nonEmpty)

    spark.sql("""SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 25""")
      .createOrReplaceTempView("co_edges")
    tvf("graft_katz('co_edges')").createOrReplaceTempView("katzv")
    val kSql = spark.sql("SELECT node, score FROM katzv")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kDir = graft.operators.Graph.q262Katz(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kSql == kDir && kSql.nonEmpty)

    tvf("graft_quant_audit('embeddings')").createOrReplaceTempView("qaudit")
    val qSql = spark.sql("SELECT label, n_vecs, n_dims, " +
        "sum_abs_err_e6, mean_err_e6, max_err_e6 FROM qaudit")
      .collect().map(_.toSeq).toSet
    val qDir = graft.operators.Similarity.q264QuantAudit(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(qSql == qDir && qSql.nonEmpty)
  }

  test("round-13 view builders ≡ the Scala operators (quality score, " +
      "PRF expansion, phash near-dup banding)") {
    SqlSurface.registerTables(spark, sf)

    tvf("graft_quality_score('documents')")
      .createOrReplaceTempView("qscore")
    val sSql = spark.sql("SELECT * FROM qscore")
      .collect().map(_.toSeq).toSet
    val sDir = graft.operators.CorpusPrep
      .q272QualityScore(spark, sf).collect().map(_.toSeq).toSet
    assert(sSql == sDir && sSql.nonEmpty)

    tvf("graft_surprisal_score('documents')")
      .createOrReplaceTempView("surp")
    val uSql = spark.sql("SELECT * FROM surp")
      .collect().map(_.toSeq).toSet
    val uDir = graft.operators.CorpusPrep
      .q294SurprisalScore(spark, sf).collect().map(_.toSeq).toSet
    assert(uSql == uDir && uSql.nonEmpty)

    tvf("graft_prf_expansion('documents')").createOrReplaceTempView("prf")
    val pSql = spark.sql("SELECT * FROM prf ORDER BY rank")
      .collect().map(_.toSeq).toSeq
    val pDir = graft.operators.TextOps.q275PrfExpansion(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(pSql == pDir && pSql.nonEmpty)

    // phash banding: the SQL view over the qm6 signature table emits
    // the same pairs as the qm7 operator minus the planted copies
    // (the operator unions its own re-ingested plant; feed the view
    // the same planted table to compare exactly)
    val sig = graft.operators.Multimodal.qm6MediaPhash(spark, sf)
      .select("media_id", "phash")
    sig.unionAll(sig
        .filter(org.apache.spark.sql.functions.col("media_id") % 10 === 0)
        .select((org.apache.spark.sql.functions.col("media_id")
          + 1000000L).as("media_id"),
          org.apache.spark.sql.functions.col("phash")))
      .createOrReplaceTempView("phash_sig")
    tvf("graft_phash_near_dup('phash_sig')")
      .createOrReplaceTempView("phash_nd")
    val hSql = spark.sql("SELECT * FROM phash_nd")
      .collect().map(_.toSeq).toSet
    val hDir = graft.operators.Multimodal.qm7MediaNearDup(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(hSql == hDir && hSql.nonEmpty)

    // band-count parameterization (round 14): the builder at B ∈
    // {2, 4, 7} finds exactly qm9's per-config verified pair count
    // over the same planted signature table
    val sweep = graft.operators.Multimodal
      .qm9PhashBandingSweep(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    Seq(2, 4, 7).foreach { nb =>
      tvf(s"graft_phash_near_dup('phash_sig', 6, $nb)")
        .createOrReplaceTempView(s"phash_nd_$nb")
      val n = spark.sql(s"SELECT COUNT(*) FROM phash_nd_$nb")
        .collect().head.getLong(0)
      assert(n == sweep(nb.toLong),
        s"builder at $nb bands found $n, qm9 says ${sweep(nb.toLong)}")
    }
  }

  test("z-order write view builder: SQL box query scans the z-laid-out " +
      "files and matches a direct scan (advice r5)") {
    SqlSurface.registerTables(spark, sf)
    val path = java.nio.file.Files
      .createTempDirectory("zorder-sql").toString
    spark.sql("SELECT p_partkey, p_partkey % 256 AS x, " +
        "CAST(p_size AS BIGINT) AS y FROM part")
      .createOrReplaceTempView("part_xy")
    graft.operators.ZOrder.zOrderWrite(spark.table("part_xy"), "x", "y",
      bits = 8, numFiles = 4, path = path)
    spark.read.parquet(path).createOrReplaceTempView("part_z")
    val boxSql = spark.sql("SELECT COUNT(*) FROM part_z WHERE " +
      "x BETWEEN 10 AND 20 AND y BETWEEN 10 AND 20")
      .collect().head.getLong(0)
    val boxDirect = spark.table("part_xy").where(
      "x BETWEEN 10 AND 20 AND y BETWEEN 10 AND 20").count()
    assert(boxSql == boxDirect)
    // layout really is z-sorted: row count preserved too
    assert(spark.sql("SELECT COUNT(*) FROM part_z").collect().head
      .getLong(0) == spark.table("part_xy").count())
  }

  test("round-15 view builders ≡ the Scala operators / gated state " +
      "(quantile sketch, Louvain, unigram encode, SERP collapse, " +
      "decontam overlap)") {
    SqlSurface.registerTables(spark, sf)

    // quantile sketch over the q302 value prep ≡ the gated registers
    spark.sql("""SELECT
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
        CAST(l_orderkey AS BIGINT) AS ok,
        CAST(l_linenumber AS BIGINT) AS ln
      FROM lineitem""").createOrReplaceTempView("li_cents")
    tvf("graft_quantile_sketch('li_cents')").createOrReplaceTempView("qsk")
    val skSql = spark.sql("SELECT kb, shard, v, w FROM qsk")
      .collect().map(_.toSeq).groupBy(identity).view
      .mapValues(_.length).toMap
    val skDir = graft.operators.Relational
      .q302QuantileSketchRegisters(spark, sf)
      .select("kb", "shard", "value", "weight")
      .collect().map(_.toSeq).groupBy(identity).view
      .mapValues(_.length).toMap
    assert(skSql == skDir && skSql.nonEmpty)

    // Louvain over the co-supply edges ≡ the gated q305 labels
    spark.sql("""SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 25""")
      .createOrReplaceTempView("co_edges15")
    tvf("graft_louvain('co_edges15')").createOrReplaceTempView("louv")
    val lvSql = spark.sql("SELECT node, community FROM louv")
      .collect().map(_.toSeq).toSet
    val lvDir = graft.operators.Graph.q305Louvain(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(lvSql == lvDir && lvSql.nonEmpty)

    // unigram state over documents ≡ the memoized gated state
    tvf("graft_unigram_encode('documents')")
      .createOrReplaceTempView("unig")
    val ugSql = spark.sql("SELECT * FROM unig")
      .collect().map(_.toSeq).toSet
    val ugDir = graft.operators.TextOps.uniState(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(ugSql == ugDir && ugSql.nonEmpty)

    // SERP collapse over planted views ≡ hand expectation
    import spark.implicits._
    Seq((1L, 10L, 90L), (2L, 11L, 80L), (3L, 20L, 70L))
      .toDF("orig_rank", "doc_id", "score")
      .createOrReplaceTempView("serp_in")
    Seq((10L, 1L), (11L, 1L)).toDF("doc_id", "component")
      .createOrReplaceTempView("serp_comp")
    tvf("graft_serp_dedup('serp_in', 'serp_comp')")
      .createOrReplaceTempView("serp_out")
    assert(spark.sql(
        "SELECT new_rank, doc_id, n_collapsed FROM serp_out")
      .collect().map(_.toSeq).toSet ==
      Set(Seq(1L, 10L, 2L), Seq(2L, 20L, 1L)))

    // decontam overlap view cut at τ=5, anti-joined ≡ q62 survivors
    spark.sql("SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0")
      .createOrReplaceTempView("bench15")
    tvf("graft_decontam_overlap('documents', 'bench15', 3)")
      .createOrReplaceTempView("dov")
    val survSql = spark.sql("""SELECT d.doc_id FROM documents d
        WHERE d.doc_id NOT IN
          (SELECT doc_id FROM dov WHERE overlap >= 5)""")
      .collect().map(_.getLong(0)).toSet
    val survDir = graft.operators.Dedup.q62Decontaminate(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(survSql == survDir && survSql.nonEmpty)
  }

  test("round-16 view builders ≡ the Scala operators / gated state " +
      "(wordpiece encode, importance weights, two-level Louvain)") {
    SqlSurface.registerTables(spark, sf)

    // wordpiece state over documents ≡ the memoized gated state
    tvf("graft_wordpiece_encode('documents')")
      .createOrReplaceTempView("wpenc")
    val wpSql = spark.sql("SELECT * FROM wpenc")
      .collect().map(_.toSeq).toSet
    val wpDir = graft.operators.TextOps.wpState(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(wpSql == wpDir && wpSql.nonEmpty)

    // importance weights against the English target ≡ the gated q313
    spark.sql("SELECT doc_id FROM documents WHERE lang = 'en'")
      .createOrReplaceTempView("tgt_en")
    spark.sql("SELECT doc_id, text FROM documents")
      .createOrReplaceTempView("docs_it")
    tvf("graft_importance_weights('docs_it', 'tgt_en')")
      .createOrReplaceTempView("impw")
    val iwSql = spark.sql("SELECT * FROM impw")
      .collect().map(_.toSeq).toSet
    val iwDir = graft.operators.CorpusPrep
      .q313ImportanceSample(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(iwSql == iwDir && iwSql.nonEmpty)

    // two-level Louvain over the co-supply edges ≡ the gated q311
    spark.sql("""SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 25""")
      .createOrReplaceTempView("co_edges16")
    tvf("graft_louvain_two_level('co_edges16')")
      .createOrReplaceTempView("louv2")
    val l2Sql = spark
      .sql("SELECT node, community, c2 FROM louv2")
      .collect().map(_.toSeq).toSet
    val l2Dir = graft.operators.Graph
      .q311LouvainTwoLevel(spark, sf)
      .select(col("node"), col("community_l1"), col("community_l2"))
      .collect().map(_.toSeq).toSet
    assert(l2Sql == l2Dir && l2Sql.nonEmpty)
  }

  test("table-function census: every registry entry is called above, " +
      "with usage text, through both registration paths") {
    ready
    val names = SqlSurface.tableFunctions.map(_._1.funcName)
    assert(names.length == 69 && names.distinct == names)
    assert(called.toSet == names.toSet,
      s"never called: ${names.toSet -- called}")
    val knnUsage = SqlSurface.tableFunctions
      .find(_._1.funcName == "graft_knn").get._2.getUsage
    assert(knnUsage.contains("Exact brute-force kNN"))
    assert(spark.sql("DESCRIBE FUNCTION graft_knn").collect()
      .map(_.getString(0)).contains(s"Usage: $knnUsage"))
    val listed = spark.sql("SHOW USER FUNCTIONS LIKE 'graft*'").collect()
      .map(_.getString(0)).toSet
    assert(names.toSet.subsetOf(listed))

    // the injected path: a session built with GraftExtensions resolves
    // every native and table function without a register() call
    val knn = "SELECT * FROM graft_knn('embeddings', 'embeddings', 5)"
    val viaRegister = spark.sql(knn).collect().toSet
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try {
      SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
    assert(ext ne spark)
    assert(names.forall(n => ext.sessionState.tableFunctionRegistry
      .functionExists(FunctionIdentifier(n))))
    assert(SqlSurface.natives.forall { case (id, _, _) =>
      ext.sessionState.functionRegistry.functionExists(id) })
    SqlSurface.registerTables(ext, sf)
    assert(ext.sql(knn).collect().toSet == viaRegister
      && viaRegister.size == 2500)
  }
}
