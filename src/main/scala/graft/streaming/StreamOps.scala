package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables.dec

/** Streaming operator surface — SURVEY.md §2-B Q35 / §2-A mapping.
  *
  * The reference's continuous run-loop semantics land on Structured
  * Streaming: micro-batch = the flush boundary (K8), checkpoint = the
  * offset store (S7), `foreachBatch` = flush-then-commit at-least-once
  * (K9), `Trigger.AvailableNow` = drain-and-stop on partition EOF (K7).
  *
  * Every transform below is written against a plain DataFrame so the SAME
  * function body serves batch and streaming inputs — which is exactly how
  * the batch≡stream equivalence tests pin the semantics (StreamingSpec).
  *
  * 100 TB notes: state stores (windows, dedup, sessions) are keyed by
  * (window, group) — watermarks bound state size; session windows and
  * dedup keys must stay bounded (SURVEY §7.4.5) — use
  * `dropDuplicatesWithinWatermark` so eviction is time-driven.
  */
object StreamOps {

  /** Tumbling event-time window aggregate (streaming twin of Q27; same
    * shape as `groupBy(date_trunc(...))` in batch). */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
      width: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("sv"))
      .select(col("win.start").as("w"), col("event_type"),
        col("cnt"), col("sv"))

  /** Session windows: gap-based grouping per user. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("win.start").as("s"), col("win.end").as("e"),
        col("user_id"), col("cnt"))

  /** Streaming exact dedup with time-bounded state. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming NEAR-dup filter — the streaming twin of the batch Q33
    * family: key each document by its 64-bit SimHash and drop later
    * arrivals whose signature collides within the watermark horizon.
    * Hamming-0 semantics per key; for hamming ≤ 3 tolerance, dedup on
    * the 4 16-bit bands instead (any-band collision ⊇ hamming ≤ 3 by
    * pigeonhole — run four keyed dedups or accept the single-key
    * under-approximation, both documented trade-offs). State is
    * (signature → seen) bounded by the watermark, not corpus size —
    * the property that makes streaming dedup feasible at all at 100 TB.
    * Requires a `ts` event-time column and a `text` column. */
  def nearDedupWithinWatermark(docs: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    graft.functions.SignatureExprs.register(docs.sparkSession)
    docs
      .withColumn("__sig", call_function("graft_simhash",
        split(col("text"), " ")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("__sig"))
      .drop("__sig")
  }

  /** STREAMING INCREMENTAL-INGEST DEDUP — q137's batch cross-corpus
    * dedup as a continuous pipeline (round-8 verdict item 5): each
    * arriving document is dropped when its exact k-shingle jaccard
    * against ANY document of the static already-cleaned corpus reaches
    * `threshold`, then the survivor side is exact-deduped WITHIN the
    * stream on the 64-bit content hash with watermark-bounded state
    * (a re-crawl of the same page in a later micro-batch collapses; a
    * re-arrival beyond the watermark horizon is ingest-policy, exactly
    * like `dedupWithinWatermark`).
    *
    * Shape: the vs-corpus decision is a STATELESS stream-static
    * left-anti join under the exact jaccard predicate (the
    * `asofJoinStreamStatic` pattern — static side computed once per
    * batch, no streaming state, no output-mode constraint); only the
    * within-stream dedup keeps state, and that state is
    * watermark-bounded. This form evaluates each arrival against the
    * broadcast corpus shingle sets — exact and stateless, right while
    * the cleaned corpus fits an executor broadcast (validation scale,
    * dimension-sized corpora). At 100 TB corpus the SAME decision runs
    * in `foreachBatch` as `Dedup.crossCorpusDedupIndexed(idx, batchDf)`
    * with `idx = Dedup.crossCorpusIndexOf(existing)` built ONCE before
    * the stream starts (round 18 — the existing-side postings index is
    * the stable artifact; only the incoming batch is per-batch work)
    * — the df-capped inverted index with work ∝ batch — and this
    * operator is its semantics pin (StreamingSpec replays a
    * MemoryStream incl. a cross-batch duplicate and matches the batch
    * operator's survivors).
    *
    * Requires (doc_id, text, ts) on the stream and (doc_id, text) on
    * the static corpus; returns the stream's columns. */
  def crossCorpusDedupStream(incoming: DataFrame, existing: DataFrame,
      k: Int = 3, threshold: Double = 0.5,
      watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Dedup
    def shCol(w: org.apache.spark.sql.Column) =
      array_distinct(transform(Dedup.shinglesOf(w, k), s => xxhash64(s)))
    val exSets = existing
      .select(split(col("text"), " ").as("__w"))
      .select(shCol(col("__w")).as("__shB"))
    val inter = size(array_intersect(col("__sh"), col("__shB")))
    val dropCond = inter.cast("double") /
      (size(col("__sh")) + size(col("__shB")) - inter).cast("double") >=
      threshold
    incoming
      .withColumn("__h", xxhash64(col("text")))
      .withColumn("__sh", shCol(split(col("text"), " ")))
      .withWatermark("ts", watermark)
      .join(broadcast(exSets), dropCond, "left_anti")
      .dropDuplicatesWithinWatermark(Seq("__h"))
      .drop("__h", "__sh")
  }

  /** STREAMING DEDUP-RATE MONITOR (round 11 — the governance family's
    * one streaming gap): a continuous per-window readout of
    * [[crossCorpusDedupStream]]'s decisions — (window_start, incoming,
    * dropped, drop_bp) per event-time tumbling window, the q235-style
    * mixture-impact card a streaming ingest dashboard polls.
    *
    * Shape: the RAW arrivals and the SURVIVOR stream (the full
    * [[crossCorpusDedupStream]] pipeline, cross-batch dedup state
    * included) union with (is_in, is_surv) flags, then ONE windowed
    * aggregation counts both sides — dropped = incoming − survivors
    * and drop_bp = (dropped · 10⁴) div incoming fall out exactly.
    * Dedup-within-watermark followed by a windowed aggregation is a
    * supported stateful chain (Spark ≥ 3.5 multi-stateful rule); both
    * union branches carry the same event-time watermark, so the
    * merged watermark advances normally and append mode emits each
    * window once, finalized.
    *
    * At 100 TB the same two-branch union runs inside the
    * `foreachBatch` form (batch survivors from
    * `Dedup.crossCorpusDedupIndexed` ∪ batch arrivals → one windowed
    * count into the metrics sink) — work per window stays ∝ batch volume,
    * state stays the dedup stream's own watermark-bounded hash set
    * plus one window's two counters. */
  def dedupRateStream(incoming: DataFrame, existing: DataFrame,
      k: Int = 3, threshold: Double = 0.5,
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val surv = crossCorpusDedupStream(incoming, existing, k, threshold,
        watermark)
      .select(col("ts"), lit(0L).as("is_in"), lit(1L).as("is_surv"))
    val raw = incoming
      .withWatermark("ts", watermark)
      .select(col("ts"), lit(1L).as("is_in"), lit(0L).as("is_surv"))
    raw.unionByName(surv)
      .groupBy(window(col("ts"), windowDur).as("w"))
      .agg(sum(col("is_in")).as("incoming"),
        sum(col("is_surv")).as("survivors"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("incoming"),
        (col("incoming") - col("survivors")).as("dropped"),
        expr("((incoming - survivors) * 10000) div incoming")
          .as("drop_bp"))
  }

  /** STREAMING LAST-TOUCH ATTRIBUTION — q169's credit assignment as
    * keyed carry-forward state: per user, the latest non-purchase
    * event type persists in `flatMapGroupsWithState`; each purchase
    * emits exactly one (user, purchase event, channel, cents) credit
    * row, in append mode, with cross-batch carry (a touch in batch N
    * credits a purchase in batch N+1 — pinned in StreamingSpec
    * against `Behavioral.lastTouchAssign`).
    *
    * Each micro-batch's per-user rows are sorted by (µs, event_id)
    * inside the handler — buffering is bounded by one USER's volume in
    * one BATCH, not history. State is one string per user; at 100 TB
    * key-space add a ProcessingTimeTimeout to evict idle users (the
    * runningUserCounts note). */
  def lastTouchStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
        col("event_id"), col("event_type"),
        coalesce(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"),
          lit(0L)).as("cents"))
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, String, Long)],
            state: GroupState[String]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var lastTouch = state.getOption.orNull
          val out =
            scala.collection.mutable.ArrayBuffer[(Long, Long, String, Long)]()
          sorted.foreach { case (_, _, eid, typ, cents) =>
            if (typ == "purchase")
              out += ((uid, eid,
                if (lastTouch == null) "direct" else lastTouch, cents))
            else lastTouch = typ
          }
          if (lastTouch != null) state.update(lastTouch)
          out.iterator
      }
      .toDF("user_id", "event_id", "channel", "cents")
  }

  /** Custom keyed state via flatMapGroupsWithState — the Spark form of
    * "arbitrary user state per key" (SURVEY §2-B Q35): a per-user running
    * event counter whose state survives across micro-batches (checkpoint
    * = the reference's offset+state store). Emits one update per user per
    * batch. State is one long per user — bounded by key cardinality;
    * at 100 TB key-space, add a timeout
    * (GroupStateTimeout.ProcessingTimeTimeout) to evict idle keys. */
  def runningUserCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select("user_id").as[Long]
      .groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Long], state: GroupState[Long]) =>
          val total = state.getOption.getOrElse(0L) + rows.size
          state.update(total)
          Iterator((user, total))
      }
      .toDF("user_id", "total")
  }

  /** STREAMING HLL REGISTER MAINTENANCE (q254's twin, round 11) —
    * per-bucket max-rho state updated as keys arrive: each user_id
    * hashes through the SAME Mix universal family / mod-64 bucket /
    * lowest-set-bit rho as `Relational.q254HllRegisters`, groups by
    * bucket, and keyed state keeps the running register (max rho seen).
    * Each batch emits the bucket's CURRENT register in update mode —
    * the live distinct-cardinality sketch a monitoring dashboard
    * polls, and the demonstration of why registers are the shippable
    * artifact: max is associative and order-insensitive, so the
    * stream state after ANY arrival order equals the batch build over
    * the union (pinned batch ≡ stream in StreamingSpec, split across
    * batches with re-hit buckets). State: 64 longs TOTAL, regardless
    * of key volume.
    *
    * Round 12 (verdict r11 observation): the per-event (bucket, rho)
    * arithmetic is the batch twin's OWN codegen'd expressions
    * (`Relational.hllBucketRho` — Mix hash + mod-64 + broadcast
    * lowbit-powers join, a supported stream-static join before the
    * stateful op), not a typed map lambda — the row path stays
    * vectorized until the 64-key state fold. */
  def hllRegistersStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    graft.operators.Relational
      .hllBucketRho(events.select(col("user_id")))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (bucket: Long, rows: Iterator[(Long, Long)],
            st: GroupState[Long]) =>
          var reg = st.getOption.getOrElse(0L)
          rows.foreach { case (_, rho) => if (rho > reg) reg = rho }
          st.update(reg)
          (bucket, reg)
      }
      .toDF("bucket", "register")
  }

  /** STREAMING CMS REGISTERS (q297's twin, the hllRegistersStream
    * discipline for the frequency sketch): each arriving event fans
    * into its 4 (row, column) cells through the batch twin's OWN
    * codegen'd hash expressions (`Relational.cmsRowCol` at cnt = 1),
    * then per-cell keyed state SUMS — addition is associative and
    * order-insensitive, so the stream state after ANY arrival order
    * equals the batch build over the union (pinned in StreamingSpec
    * across batches with re-hit cells). State: ≤ 256 longs TOTAL,
    * regardless of key volume — the live frequency sketch a
    * monitoring dashboard polls. */
  def cmsRegistersStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    graft.operators.Relational
      .cmsRowCol(events.select(col("user_id"), lit(1L).as("cnt")))
      .select(col("j"), col("k"), col("cnt"))
      .as[(Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (cell: (Long, Long), rows: Iterator[(Long, Long, Long)],
            st: GroupState[Long]) =>
          var c = st.getOption.getOrElse(0L)
          rows.foreach { r => c += r._3 }
          st.update(c)
          (cell._1, cell._2, c)
      }
      .toDF("j", "k", "counter")
  }

  /** One sequential insert into the level-structured quantile
    * compactor — the ONLINE form of q302's even-offset MRL collapse:
    * append to level 0; any level past capacity sorts ascending,
    * promotes its even-RANK half (1-based ranks 2, 4, … — the same
    * deterministic rule as the batch cascade) to the next level, and
    * empties. Shared by the stream twin and the StreamingSpec driver
    * replay's independent fold would re-implement it — kept package-
    * visible so the spec can ALSO pin single-step hand goldens.
    *
    * ODD-POPULATION NOTE (advice r15, same rule as the batch
    * `Percentiles.sketchRound`): an odd-sized compaction's unpaired
    * odd-rank item is DROPPED (2t+1 items promote t), so retained
    * weight can drift below the item count by 1 per odd compaction.
    * Estimators over this state normalize by retained weight (the
    * q302b rule), which keeps the readout self-consistent; the
    * classic even-population MRL bound then holds against the
    * retained-weight CDF, and the measured q302b error curve is the
    * binding number. */
  private[graft] def qsketchInsert(levels: Vector[Vector[Long]],
      v: Long, cap: Int): Vector[Vector[Long]] = {
    var ls = if (levels.isEmpty) Vector(Vector.empty[Long]) else levels
    ls = ls.updated(0, ls(0) :+ v)
    var l = 0
    while (l < ls.length) {
      if (ls(l).length > cap) {
        val sorted = ls(l).sorted
        val promoted = sorted.indices.collect {
          case i if i % 2 == 1 => sorted(i) }.toVector
        if (ls.length == l + 1) ls = ls :+ Vector.empty[Long]
        ls = ls.updated(l, Vector.empty[Long])
          .updated(l + 1, ls(l + 1) ++ promoted)
      }
      l += 1
    }
    ls
  }

  /** STREAMING QUANTILE-SKETCH REGISTERS (q302's twin, the
    * hllRegistersStream discipline for the rank sketch): per-shard
    * keyed state = the compactor LEVELS — ≤ cap items each, ≤
    * log₂(n/cap)+2 levels, so state is O(cap·log n) longs regardless
    * of row volume (never the raw values). Each arriving value runs
    * one [[qsketchInsert]]; intra-batch arrival order is
    * canonicalized by sorting the batch's values ascending before
    * insertion, so the state is a pure function of the BATCH
    * SEQUENCE, not of task scheduling — StreamingSpec pins the state
    * after two batches ≡ an independent driver-side fold of the same
    * rule. Output per batch: the shard's full register dump
    * (shard, level, pos, value); weight = 2^level implied.
    *
    * Input: any streaming frame with BIGINT `shard` and `v` columns
    * (at 100 TB the shard IS the partition key — per-shard state
    * merges by the batch-side union exactly like q302). */
  def quantileSketchStream(rows: DataFrame, cap: Int = 64): DataFrame = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    rows.select(col("shard").cast("long"), col("v").cast("long"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (shard: Long, it: Iterator[(Long, Long)],
            st: GroupState[Seq[Seq[Long]]]) =>
          var levels = st.getOption
            .map(_.map(_.toVector).toVector)
            .getOrElse(Vector.empty[Vector[Long]])
          it.map(_._2).toVector.sorted.foreach { v =>
            levels = qsketchInsert(levels, v, cap) }
          st.update(levels.map(_.toSeq))
          levels.iterator.zipWithIndex.flatMap { case (items, lvl) =>
            items.sorted.iterator.zipWithIndex.map { case (v, i) =>
              (shard, lvl.toLong, (i + 1).toLong, v) }
          }
      }
      .toDF("shard", "level", "pos", "value")
  }

  /** STREAMING FUNNEL — the continuous twin of `Behavioral.funnelStages`
    * (q73): per-user funnel depth tracked as keyed state. The batch form
    * is a chain of conditional-min aggregates; the streaming form is the
    * equivalent ONLINE state machine — at depth d with stage-d time t_d,
    * the user advances on the first stages(d)-event with ts ≥ t_d. For
    * events processed in time order these define the same depths
    * (the first eligible event in time order IS the conditional min),
    * pinned batch≡stream in StreamingSpec.
    *
    * State is (depth, t_last) — two numbers per user, the smallest
    * possible funnel state; batch arrivals are sorted per user before
    * the state machine runs, so intra-batch disorder is repaired.
    * CROSS-batch late data is the documented limit (an event older than
    * an already-consumed stage time cannot retroactively re-run the
    * funnel — replay from checkpoint if exactness under late data is
    * required). At 100 TB keyspace, evict idle users with a
    * ProcessingTimeTimeout. */
  def funnelDepthStream(events: DataFrame, stages: Seq[String])
      : DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.nonEmpty, "at least one funnel stage")
    val tieCol = if (events.columns.contains("event_id"))
      col("event_id").cast("long") else lit(0L)
    events.select(col("user_id").cast("long"), col("event_type"),
      col("ts_ns").cast("long"), tieCol)
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[(Int, Long)]) =>
          var (depth, tLast) = state.getOption.getOrElse((0, Long.MinValue))
          // (ts_ns, event_id) — the D1 tiebreak the batch funnel and the
          // q74/q89 windows use; ts_ns alone leaves same-nanosecond
          // events in nondeterministic relative order.
          rows.toVector.sortBy(r => (r._3, r._4)).foreach { case (_, typ, ts, _) =>
            if (depth < stages.length && typ == stages(depth) &&
              ts >= tLast) {
              depth += 1
              tLast = ts
            }
          }
          state.update((depth, tLast))
          Iterator((user, depth.toLong))
      }
      .toDF("user_id", "stage")
  }

  /** Streaming twin of q186's TIME-WINDOWED funnel (round-8 verdict
    * item 7): [[funnelDepthStream]]'s chain state machine plus the
    * completion horizon — a chain advance only raises the REPORTED
    * depth while it lands within `horizonNs` of the funnel start.
    * The batch indicator is monotone (chain times only grow), so one
    * extra windowed-depth counter is the whole horizon state; the
    * funnel start t0 is pinned when depth goes 0→1, exactly the
    * batch `t0`.
    *
    * State is (depth, tLast, t0, wDepth) — four numbers per user.
    * Same contracts as [[funnelDepthStream]]: intra-batch disorder
    * repaired by the (ts_ns, event_id) sort, cross-batch late data is
    * the documented limit, idle users evict via timeout at scale.
    * StreamingSpec pins per-user depths ≡ `funnelWindowedStages` on a
    * replay whose horizon overflow AND chain completion straddle a
    * batch boundary. */
  def funnelWindowedStream(events: DataFrame, stages: Seq[String],
      horizonNs: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    require(stages.nonEmpty, "at least one funnel stage")
    val tieCol = if (events.columns.contains("event_id"))
      col("event_id").cast("long") else lit(0L)
    events.select(col("user_id").cast("long"), col("event_type"),
      col("ts_ns").cast("long"), tieCol)
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[(Int, Long, Long, Int)]) =>
          var (depth, tLast, t0, wDepth) =
            state.getOption.getOrElse((0, Long.MinValue, 0L, 0))
          rows.toVector.sortBy(r => (r._3, r._4))
            .foreach { case (_, typ, ts, _) =>
              if (depth < stages.length && typ == stages(depth) &&
                ts >= tLast) {
                if (depth == 0) t0 = ts
                depth += 1
                tLast = ts
                if (ts - t0 <= horizonNs) wDepth = depth
              }
            }
          state.update((depth, tLast, t0, wDepth))
          Iterator((user, wDepth.toLong))
      }
      .toDF("user_id", "stage")
  }

  /** Streaming twin of q202's SCD2 interval build — the CDC shape:
    * per user, carry the OPEN run (state, valid_from, n_events,
    * version) across micro-batches and emit each run's row the moment
    * a different state CLOSES it (valid_to = the closing event's
    * time). A run spanning a batch boundary must NOT close at the
    * boundary — StreamingSpec pins the closed-interval set ≡ the
    * batch `scd2Intervals` rows with non-null valid_to, including
    * exactly that case. The open run is carried state (its row
    * materializes on the next change or, in production, on a
    * session-close timeout).
    *
    * State is four scalars per user; intra-batch disorder is repaired
    * by the (ts_us, event_id) sort (D1); cross-batch late data is the
    * documented funnel-twin limit. */
  def scd2Stream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("user_id").cast("long"),
      expr("ts_ns div 1000").cast("long").as("ts_us"),
      col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            st: GroupState[(String, Long, Long, Long)]) =>
          var cur = st.getOption
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, String, Long, Long, Long)]
          rows.toVector.sortBy(r => (r._2, r._3))
            .foreach { case (_, ts, _, typ) =>
              cur match {
                case Some((s, f, n, v)) if s == typ =>
                  cur = Some((s, f, n + 1, v))
                case Some((s, f, n, v)) =>
                  out += ((user, v, s, f, ts, n))
                  cur = Some((typ, ts, 1L, v + 1))
                case None =>
                  cur = Some((typ, ts, 1L, 1L))
              }
            }
          cur.foreach(st.update)
          out.iterator
      }
      .toDF("user_id", "version_no", "state", "valid_from_us",
        "valid_to_us", "n_events")
  }

  /** Streaming twin of q127's gap computation: per (user, event_type),
    * carry the last (ts_ns, event_id) across micro-batches and emit one
    * gap row per subsequent event — the live feed a cadence monitor or
    * rate-limit alerter consumes (batch q127 then takes percentiles of
    * exactly these gaps; StreamingSpec pins the gap MULTISET equal to
    * the batch lag-window computation, including across a batch
    * boundary).
    *
    * State is two longs per (user, type) key; intra-batch disorder is
    * repaired by sorting each batch's group slice on (ts_ns, event_id)
    * — the same D1 tiebreak the batch window uses. Cross-batch late
    * data is the documented funnel-twin limit. At 100 TB keyspace,
    * evict idle keys with a ProcessingTimeTimeout. */
  def arrivalGapsStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.select(col("user_id").cast("long"), col("event_type"),
      col("ts_ns").cast("long"), col("event_id").cast("long"))
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[(Long, String, Long, Long)],
            state: GroupState[(Long, Long)]) =>
          var prev = state.getOption
          val out = Vector.newBuilder[(Long, String, Long, Long)]
          rows.toVector.sortBy(r => (r._3, r._4)).foreach {
            case (_, _, ts, eid) =>
              prev.foreach { case (pts, _) =>
                out += ((key._1, key._2, (ts - pts) / 1000L, eid))
              }
              prev = Some((ts, eid))
          }
          prev.foreach(state.update)
          out.result().iterator
      }
      .toDF("user_id", "event_type", "gap_us", "event_id")
  }

  /** STREAMING EWMA — q132's twin: the integer λ = 1/8 recursion
    * (`Stats.ewmaStep`, floor-div, seed 0) kept continuously per user as
    * TWO LONGS of state (event count, accumulator) via
    * flatMapGroupsWithState — the q127/funnel pattern. Each micro-batch
    * sorts its own group slice on (ts_ns, event_id) (the D1 tiebreak)
    * and emits the user's updated (n_events, ewma_e3); replaying the
    * same events through any batch partitioning yields exactly the
    * batch `Stats.ewmaByUser` fold (pinned in StreamingSpec, including
    * cross-batch carry). Cross-batch late data is the documented
    * funnel-twin limit; at 100 TB keyspace, evict idle users with a
    * ProcessingTimeTimeout. */
  def ewmaStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.filter(col("value").isNotNull)
      .select(col("user_id").cast("long"), col("ts_ns").cast("long"),
        col("event_id").cast("long"),
        expr("CAST(floor(value * 1000 + 0.5) AS BIGINT)").as("v"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[(Long, Long)]) =>
          var (n, acc) = state.getOption.getOrElse((0L, 0L))
          rows.toVector.sortBy(r => (r._2, r._3)).foreach { r =>
            n += 1L
            acc = graft.operators.Stats.ewmaStep(acc, r._4)
          }
          state.update((n, acc))
          Iterator.single((user, n, acc))
      }
      .toDF("user_id", "n_events", "ewma_e3")
  }

  /** STREAMING rolling WAU — q144's twin. The batch body's ≤7× anchor
    * fan-out join becomes a projection: every event emits its 7
    * visible anchor days (`sequence(d, d+6)`), then TWO CHAINED
    * STATEFUL operators do the distinct-count —
    * dropDuplicatesWithinWatermark on (user, anchor) bounds dedup
    * state by the watermark horizon, and a 1-day tumbling window on
    * the anchor-as-event-time counts the survivors. Chained stateful
    * ops are legal here because both key on the same derived event
    * time (Spark 4 multi-stateful support); output is Append — an
    * anchor's WAU emits exactly once, when the watermark passes its
    * day. The anchor timestamp leads the real event time by up to 6
    * days, so on the ANCHOR clock a fresh event's anchors make other
    * users' rows for the same anchor look up to 6 days late — the
    * watermark must be ≥ 6 days + the real lateness budget or
    * same-anchor contributions from later batches are dropped as late
    * (measured: a 1-day watermark lost a cross-batch user). Default 7
    * days = the window width + 1 day of true lateness; state is
    * ≤ 7·|user-days in horizon| on the dedup side. Unlike the batch
    * body, anchors with no OBSERVED events on their own day still
    * emit (the trailing window keeps counting for 6 days after
    * activity stops) — the StreamingSpec pin compares on the batch
    * side's observed-day anchors. */
  def rollingWauStream(events: DataFrame,
      watermark: String = "7 days"): DataFrame =
    events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .withColumn("anchor",
        explode(expr("sequence(d, date_add(d, 6))")))
      .withColumn("ats", col("anchor").cast("timestamp"))
      .withWatermark("ats", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "anchor"))
      .groupBy(window(col("ats"), "1 day").as("win"))
      .agg(count(lit(1)).as("wau7"))
      .select(to_date(col("win.start")).as("d"), col("wau7"))

  /** STREAMING HOLT — q146's twin: the coupled (level, trend)
    * recursion (`Stats.holtStep`, truncating division, seeds l₁ = v₁,
    * b₁ = 0) kept continuously per event type as THREE LONGS of state
    * (day count, level, trend) via flatMapGroupsWithState — the
    * ewmaStream pattern with a 2-D accumulator. Input is the (type,
    * dnum, v) daily frame (in production the upstream watermarked
    * daily aggregate); each micro-batch sorts its slice by dnum and
    * folds, so replaying the same days through any batching equals
    * the batch `Stats.holtByType` fold (pinned in StreamingSpec,
    * including cross-batch carry). Cross-batch late days are the
    * documented funnel-twin limit. */
  def holtStream(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    daily.select(col("event_type").cast("string"),
        col("dnum").cast("int"), col("v").cast("long"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        (et: String, rows: Iterator[(String, Int, Long)],
            state: GroupState[(Long, Long, Long)]) =>
          var (n, l, b) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.toVector.sortBy(_._2).foreach { r =>
            if (n == 0L) { l = r._3; b = 0L }
            else {
              val st = graft.operators.Stats.holtStep(l, b, r._3)
              l = st._1
              b = st._2
            }
            n += 1L
          }
          state.update((n, l, b))
          Iterator.single((et, n, l, b, l + b))
      }
      .toDF("event_type", "n_days", "level_e3", "trend_e3",
        "forecast_e3")
  }

  /** STREAMING OHLC — q136's twin as a watermarked tumbling-window
    * aggregate: open/close are `min_by`/`max_by` keyed by the D1
    * (ts_ns, event_id) struct (streaming can't window-sort, but the
    * boundary-value selection is an ordinary declarative agg, so the
    * bar closes exactly once when the watermark passes). Equivalent to
    * the batch row_number selection by definition of min_by over a
    * total key — pinned batch≡stream in StreamingSpec. */
  def ohlcStream(events: DataFrame, width: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events.filter(col("value").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("value"), struct(col("ts_ns"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts_ns"), col("event_id")))
          .as("close"))
      .select(col("window.start").as("w"), col("event_type"),
        col("n_events"), col("open"), col("high"), col("low"),
        col("close"))

  /** Batch-side reference implementation for the equivalence tests:
    * floor ts to the window width. */
  def batchTumblingCounts(events: DataFrame, widthSeconds: Long): Column = {
    val bucket = (unix_timestamp(col("ts")) / widthSeconds).cast("long")
    timestamp_seconds(bucket * widthSeconds)
  }

  /** STREAMING PEAK-RATE FEED — q222's per-(event_type, minute) counts
    * as a watermarked 1-minute tumbling aggregate in append mode: a
    * minute's count row is emitted exactly once, when the watermark
    * passes its end. The peak/mean/burst readout is NOT computed in
    * the stream (an all-time argmax never finalizes under append
    * semantics); the sink folds emitted rows through
    * [[graft.operators.TimeSeries.peakRollup]] — the SAME second-stage
    * code batch q222 runs, so batch ≡ stream is structural
    * (StreamingSpec pins it on a MemoryStream replay with the peak
    * minute split across two batches).
    *
    * State: #open windows × #types — bounded by the watermark.
    * `minute` = unix_micros(window.start) div 60e6 ≡ ts_ns div 60e9
    * for every event in the window, the exact batch bucketing. */
  def peakRateStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        expr("unix_micros(window.start) div 60000000").as("minute"),
        col("c"))

  /** STREAM-STATIC AS-OF JOIN (round-3 verdict item 9): each streaming
    * event picks up the latest static-dimension row with
    * `right.ts <= event.ts` for its key — "join events to the snapshot
    * in force at event time", continuously.
    *
    * Streaming windows can't sort across rows, so the batch union+window
    * trick is out; instead the STATIC side is intervalized once with a
    * batch window (`lead` gives each snapshot row its validity interval
    * [ts, next_ts)), and the stream side becomes a STATELESS
    * stream-static left join on key + interval containment — exactly one
    * static match per event by construction, so no aggregation, no
    * streaming state, no watermark requirement. Semantics match
    * `AsofJoin.asofJoin` (inclusive `<=`, left rows preserved) — pinned
    * batch≡stream in StreamingSpec.
    *
    * 100 TB notes: the interval table is computed per micro-batch unless
    * materialized — persist it (or write it to a table refreshed on
    * dimension change). The join is a plain equi-join on the key with a
    * range residual: broadcastable when the dimension is small, shuffle
    * otherwise; per-event output is exactly one row either way. */
  def asofJoinStreamStatic(stream: DataFrame, right: DataFrame,
      key: String, ts: String, valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(key).orderBy(col(ts).asc)
    val intervals = right
      .select((Seq(key, ts).map(col) ++ valueCols.map(col)): _*)
      .withColumn("__until", lead(col(ts), 1).over(w))
      .withColumnRenamed(key, "__rk")
      .withColumnRenamed(ts, "__from")
    stream.join(intervals,
      stream(key) === intervals("__rk") &&
        stream(ts) >= intervals("__from") &&
        (intervals("__until").isNull || stream(ts) < intervals("__until")),
      "left")
      .drop("__rk", "__from", "__until")
  }

  /** STREAMING CORPUS REPORT — q78's per-source dataset card as a
    * continuous windowed aggregate: per (event-time window, source),
    * doc count, token volume, and language mix. Watermark + append
    * mode: a window's card row is emitted exactly once, when the
    * watermark passes its end — the \"dataset card over time\" a
    * continuously-ingested corpus needs. Exact-dup rate is the one q78
    * column deliberately absent: exactness there needs per-text-hash
    * keyed state across the whole stream (unbounded); the streaming
    * dedup RATE signal comes from [[dedupWithinWatermark]] upstream
    * (bounded state) instead. State size: #open windows × #sources.
    * Batch≡stream pinned in StreamingSpec. */
  def corpusReportStream(docs: DataFrame, win: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    docs.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win).as("w"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tok_sum"),
        expr("count_if(lang = 'en')").as("n_en"))
      .select(col("w.start").as("w_start"), col("source"),
        col("n_docs"), col("tok_sum"), col("n_en"))

  /** STREAMING CORPUS PREP — the q63 chain as a continuous pipeline
    * (documents arrive as a stream; the benchmark/eval corpus is a
    * static table):
    *
    *   1. quality filter      — stateless projection filter;
    *   2. repetition filter   — stateless (q67's duplicate-bigram
    *      basis points, same zip_with-over-slices form);
    *   3. exact dedup         — `dropDuplicatesWithinWatermark` on the
    *      64-bit content hash: state is (hash → seen) bounded by the
    *      watermark horizon, not corpus size — the property that makes
    *      streaming dedup feasible at 100 TB (an unbounded
    *      `dropDuplicates` would accrete every hash ever seen);
    *   4. decontamination     — the static bench shingle set is
    *      distinct-reduced, collapsed to ONE row (`collect_set`) and
    *      broadcast, so the overlap count is a stateless per-row
    *      `array_intersect` against the broadcast set — no stream-side
    *      explode, no keyed aggregation state. Evals are MBs while
    *      corpora are TBs, so the 1-row set stays broadcastable; if it
    *      ever didn't, fall back to explode + stream-static semi-join
    *      + windowed per-doc count.
    *
    * Near-dedup (stage 3.5 in batch) composes via
    * [[nearDedupWithinWatermark]] upstream when wanted; it is kept out
    * of the default chain because its simhash-key approximation is a
    * different recall contract than the batch exact pair set.
    * Batch≡stream equivalence is pinned in StreamingSpec. */
  def corpusPrepStream(docs: DataFrame, bench: DataFrame,
      minWords: Int = 40, maxDupBigramBp: Int = 8000, k: Int = 3,
      minOverlap: Int = 5, watermark: String = "10 minutes"): DataFrame = {
    import graft.operators.Dedup.shinglesOf
    val benchSet = bench
      .select(split(col("text"), " ").as("__bw"))
      .select(explode(transform(shinglesOf(col("__bw"), k),
        s => xxhash64(s))).as("sh"))
      .distinct()
      .agg(collect_set(col("sh")).as("__bench_sh"))
    docs
      .withColumn("__w", split(col("text"), " "))
      .filter(size(col("__w")) >= minWords)
      .withColumn("__bg", zip_with(
        slice(col("__w"), lit(1), size(col("__w")) - 1),
        slice(col("__w"), lit(2), size(col("__w")) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .filter((size(col("__bg")) - size(array_distinct(col("__bg"))))
        * lit(10000) < lit(maxDupBigramBp) * size(col("__bg")))
      .withColumn("__h", xxhash64(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("__h"))
      .crossJoin(broadcast(benchSet))
      // shinglesOf() is already array_distinct per doc, so the intersect
      // size IS the distinct-overlap count (same as Dedup.decontaminate)
      .filter(size(array_intersect(
        transform(shinglesOf(col("__w"), k), s => xxhash64(s)),
        col("__bench_sh"))) < minOverlap)
      .drop("__w", "__bg", "__h", "__bench_sh")
  }

  /** STREAM-STREAM event-time interval join — the conversion-attribution
    * shape (each trigger event joined to its follow-up events within
    * `horizonSeconds`), and the one streaming join class the surface
    * was missing: both sides are unbounded, so the engine must buffer
    * BOTH in the state store and the join condition must bound how
    * long (Spark requires either a time-interval condition or
    * watermarks on both sides to evict; we provide both — state per
    * side is O(events inside the watermark+horizon window), not O(∞)).
    *
    * Written against plain DataFrames so the SAME body runs in batch
    * (where it degenerates to a theta join) and streaming —
    * StreamingSpec pins batch ≡ stream on a MemoryStream replay.
    *
    * Output: one row per (trigger, follow-up) pair within the horizon,
    * strictly after (gap > 0 — an instantaneous echo is not a
    * conversion), keyed by user. */
  def intervalJoinStream(triggers: DataFrame, followUps: DataFrame,
      triggerType: String, followType: String, horizonSeconds: Long,
      watermark: String = "10 minutes"): DataFrame = {
    val a = triggers
      .filter(col("event_type") === triggerType)
      .select(col("user_id").as("a_user"), col("event_id").as("a_id"),
        col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = followUps
      .filter(col("event_type") === followType)
      .select(col("user_id").as("b_user"), col("event_id").as("b_id"),
        col("ts").as("b_ts"), col("value").as("b_value"))
      .withWatermark("b_ts", watermark)
    a.join(b,
      col("a_user") === col("b_user") &&
        col("b_ts") > col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $horizonSeconds SECONDS"))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"),
        col("b_value"),
        (unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
          .as("gap_us"))
  }

  /** STREAMING INVERTED-INDEX DELTA (q261's twin, round 12) — index
    * maintenance as a stream: incoming (doc_id, text) UPSERTS diff
    * against the STATIC base index, emitting per-doc postings churn
    * (n_added, n_removed) as edits arrive. The base side is
    * pre-aggregated ONCE to (doc_id, base term set); each incoming
    * row then needs exactly one stream-static left join and two
    * array_except's — per-row work ∝ the document, zero stream state,
    * and the whole path is codegen'd (no typed lambdas). Docs absent
    * from the base diff as all-added (new docs); DELETES are not in
    * an upsert stream by definition — the batch q261 covers
    * tombstones (its 'deleted' class), the stream covers the
    * edit/arrival flow; batch ≡ stream pinned on the shared derived
    * snapshot in StreamingSpec.
    *
    * 100 TB: the base set frame is the index itself keyed by doc_id —
    * bucket it on doc_id and the per-batch join is Exchange-free on
    * the static side (q129's co-bucketed discipline). */
  def invIndexDeltaStream(incoming: DataFrame, base: DataFrame)
      : DataFrame = {
    val baseSets = base
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id")
      .agg(collect_set(col("term")).as("base_terms"))
    incoming
      .select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("new_terms"))
      .join(baseSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(array_except(col("new_terms"),
          coalesce(col("base_terms"), typedlit(Seq.empty[String]))))
          .cast("long").as("n_added"),
        size(array_except(
          coalesce(col("base_terms"), typedlit(Seq.empty[String])),
          col("new_terms"))).cast("long").as("n_removed"))
  }

  /** STREAMING CDC APPLY (q240's twin) — materialized-view maintenance:
    * a changelog stream in q129/q240 shape (o_orderkey, op ∈ {I,U,D},
    * new_* values) folds into per-key LATEST state via
    * `mapGroupsWithState`; each batch emits the key's current resolved
    * row in update mode. The view at any point = base snapshot with
    * each emitted key's latest row upserted (or dropped when its
    * latest op is D) — exactly `Relational.applyCdc` over the
    * collapsed changelog, pinned in StreamingSpec with a two-batch
    * replay where batch 2 re-touches batch-1 keys.
    *
    * State is one small tuple per CHANGED key (change volume, not
    * table volume); at 100 TB evict keys with a timeout once the
    * downstream sink has compacted them.
    *
    * INTRA-BATCH ORDER: Spark gives NO ordering guarantee for a
    * group's rows inside a micro-batch, so two ops for one key in one
    * batch would resolve nondeterministically if folded in arrival
    * order. Pass `seqCol` (a monotone change-sequence/timestamp column
    * in the changelog) and the fold applies a key's in-batch rows in
    * ascending seq order — deterministic, and ≡ the batch twin applied
    * per-seq. Without `seqCol`, one-op-per-key-per-batch is a HARD
    * precondition and the fold throws if a batch violates it. */
  def applyCdcStream(diff: DataFrame,
      seqCol: Option[String] = None): DataFrame = {
    import diff.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val hasSeq = seqCol.isDefined
    val inSeq = seqCol.map(c => col(c).cast("long"))
      .getOrElse(lit(0L)).as("in_seq")
    diff.select(col("o_orderkey").cast("long"), col("op"),
        col("new_o_orderstatus"), col("new_o_totalprice").cast("double"),
        inSeq)
      .as[(Long, String, Option[String], Option[Double], Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (k: Long,
            rows: Iterator[(Long, String, Option[String], Option[Double], Long)],
            st: GroupState[(Long, String, Option[String], Option[Double])]) =>
          val buf = rows.toVector
          if (!hasSeq && buf.size > 1)
            throw new IllegalStateException(
              s"applyCdcStream: ${buf.size} ops for key $k in one " +
                "micro-batch but no seqCol — intra-batch order is " +
                "undefined; pass seqCol to resolve deterministically")
          // strict-monotone seq is a PRECONDITION, so assert it like
          // the no-seqCol multi-op case: equal seq values would fall
          // back to arrival order (stable sort) — nondeterministic
          // across runs (advice r11)
          if (hasSeq && buf.size > 1 &&
              buf.map(_._5).distinct.size != buf.size)
            throw new IllegalStateException(
              s"applyCdcStream: duplicate seq values for key $k in one " +
                s"micro-batch (${buf.map(_._5).sorted.mkString(",")}) — " +
                "intra-key order undefined; seqCol must be strictly " +
                "monotone per key")
          val ordered = if (hasSeq) buf.sortBy(_._5) else buf
          var cur = st.getOption
          ordered.foreach { case (_, op, s, p, _) =>
            cur = Some((cur.map(_._1).getOrElse(0L) + 1L, op, s, p))
          }
          cur.foreach(st.update)
          val (n, op, s, p) = cur.get
          (k, n, op, s, p)
      }
      .toDF("o_orderkey", "change_seq", "op", "o_orderstatus",
        "o_totalprice")
  }
}
