package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables.load

/** Text-analysis + exact-dedup surface — SURVEY.md §2-B Q31/Q32 and the
  * north-star training-data-pipeline text operators: token counting,
  * quality scoring, language-ID, document fingerprinting.
  *
  * Scale notes: everything is per-document map work + a hash aggregate —
  * embarrassingly parallel, no driver collects, codegen-friendly built-in
  * expressions only (split/explode/regexp/hash).
  */
object TextOps {

  /** Q31a language stats. */
  def q31Lang(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .groupBy("lang")
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
      .orderBy("lang")

  /** Q31b tokenize + word count (top-20, count-desc with word tiebreak). */
  def q31Tokens(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(20)

  /** Q32 exact-dedup stats per source (hash-groupBy distinct). */
  def q32DedupExact(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n"), countDistinct(col("text")).as("uniq"))
      .orderBy("source")

  /** Exact dedup as an operator (north star): keep one row per text.
    * dropDuplicates is a shuffle-parallel hash-groupBy; at 100 TB dedupe
    * on a 64-bit content hash first so the shuffle moves hashes, not
    * document bodies. This query returns the survivor count + rows so the
    * oracle can check it exactly. */
  def q32bDedupRows(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("text"))
      .distinct()
      .agg(count(lit(1)).as("uniq_texts"))

  /** Token counting (north star): whitespace tokens + a BPE-ish regex
    * token count (alphanumeric runs as word pieces). regexp_count keeps
    * the semantics identical across engines (no split-edge-case drift). */
  def tx1TokenCount(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast(LongType).as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z0-9]+")).cast(LongType)
          .as("re_tokens"))
      .orderBy("doc_id")

  /** Quality scoring (north star): length, word count, mean word length
    * (×100), stopword count + ratio (basis points) — the classic cheap
    * quality filters for pretraining data, all as one codegen'd
    * projection. Ratios use exact integer DIV so the oracle comparison is
    * representation-independent. */
  def tx2Quality(spark: SparkSession, dir: String): DataFrame = {
    val nChars = length(col("text")).cast(LongType)
    val nWords = size(split(col("text"), " ")).cast(LongType)
    val stopRe = "\\b(the|a|an|of|to|and|in|is|it)\\b"
    val nStops = regexp_count(col("text"), lit(stopRe)).cast(LongType)
    load(spark, dir, "documents")
      .select(col("doc_id"),
        nChars.as("chars"),
        nWords.as("words"),
        try_divide(nChars * 100, nWords).cast(LongType).as("mean_wlen_c"),
        nStops.as("stops"),
        try_divide(nStops * 10000, nWords).cast(LongType).as("stop_bp"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (north star, implementation-only): score each
    * doc against tiny per-language stopword sets via regex counts and
    * argmax. Deterministic; accuracy asserted in TextOpsSpec against the
    * fixture's lang column. */
  def langIdScores(documents: DataFrame): DataFrame = {
    val markers: Seq[(String, String)] = Seq(
      "en" -> "(?i)\\b(the|and|of|to|is|in|that|with)\\b",
      "de" -> "(?i)\\b(der|die|das|und|ist|nicht|mit|ein)\\b",
      "fr" -> "(?i)\\b(le|la|les|et|est|une|dans|pour)\\b",
      "es" -> "(?i)\\b(el|los|las|y|es|una|para|como)\\b")
    val scored = markers.foldLeft(documents) { case (df, (lang, re)) =>
      df.withColumn(s"score_$lang", size(split(col("text"), re)) - 1)
    }
    val best = markers.map { case (lang, _) =>
      struct(col(s"score_$lang").as("s"), lit(lang).as("l"))
    }
    scored.withColumn("pred_lang",
      greatest(best: _*).getField("l"))
  }

  /** Document fingerprint (north star): whole-content hash + an
    * order-sensitive rolling hash over word tokens — stable input to
    * large-scale exact dedup and provenance tracking.
    *
    * Round 7: hashes switched from xxhash64 (engine-specific — DuckDB
    * has none, which kept tx4 rows-only) to the q95-proven ENGINE-SHARED
    * polynomial folds mod P = 10⁹+7: content hash = char-code fold base
    * 31 over the whole text; rolling hash = base-131 fold over the word
    * hashes (order-sensitive, so shuffled tokens fingerprint
    * differently). Same integer op sequence in any engine ⇒ tx4 now
    * sits under the HARD oracle. ANSI-safe: every intermediate ≤
    * 131·P + 127 ≪ 2⁶³. Scale: one codegen'd projection — the folds run
    * as the native `graft_polyhash`/`graft_rollhash` expressions
    * (functions/SignatureExprs.scala: one tight JVM loop per row,
    * bit-identical to the HOF spelling but ~4× faster — interpreted
    * per-char lambdas over materialized char arrays were tx4's whole
    * cost). */
  def fingerprint(documents: DataFrame): DataFrame = {
    graft.functions.SignatureExprs.register(documents.sparkSession)
    documents.select(col("doc_id"),
      call_function("graft_polyhash", col("text")).as("content_hash"),
      call_function("graft_rollhash", col("text")).as("rolling_hash"))
  }

  // ---------------------------------------------------------------- q95

  /** MOSS winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the public plagiarism-detection standard): hash every word
    * k-gram, slide a w-window over the hash sequence, keep each
    * window's minimum. Guarantees any shared word run of length ≥
    * w+k−1 between two documents shares a fingerprint, at ~2/(w+1)
    * selection density — the local-dedup/provenance index tx4's
    * whole-doc hashes cannot give.
    *
    * Engine-shared hashing is what puts a fingerprinting operator
    * under the HARD oracle (tx4's xxhash64 cannot be): word hash =
    * polynomial fold of character codes mod P (P = 10⁹+7, base 31;
    * the corpus is ASCII so `ascii` ≡ `ord`); gram hash = base-131
    * fold of the k word hashes mod P. All integer ops — identical in
    * any engine, ANSI-safe (every intermediate ≤ 131·P + 127 ≪ 2⁶³).
    * The (hash, position) window minimum with leftmost tiebreak packs
    * into ONE BIGINT (hash·2²⁴ + pos, so a plain integer array_min is
    * the struct-min on both engines; pos < 2²⁴ bounds docs at 16M
    * grams).
    *
    * Scale: pure per-row projection — tokenize ONCE and index the
    * array (q56 discipline; CollapseProject keeps the expensive HOF
    * stages materialized because each is referenced downstream), dedup
    * via per-doc array_distinct (fingerprint sets are per-document —
    * NO global distinct shuffle), then one explode. Runs at scan
    * speed; output volume ≈ 2/(w+1) of gram volume. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4)
      : DataFrame = {
    graft.functions.SignatureExprs.register(docs.sparkSession)
    val P = 1000000007L
    val packed = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      // per-word char fold via the NATIVE graft_polyhash (bit-identical
      // to the aggregate(split(wd,""), …) HOF it replaces; one JVM byte
      // loop per word instead of an interpreted per-char lambda over a
      // materialized char array)
      .withColumn("whl", transform(col("ws"),
        wd => call_function("graft_polyhash", wd)))
      .withColumn("kl", transform(
        sequence(lit(1), size(col("whl")) - (k - 1)), i =>
          (0 until k).foldLeft(lit(0L): Column) { (acc, j) =>
            (acc * 131 + element_at(col("whl"), i + j)) % P
          } * 16777216L + i))
      .withColumn("fps", array_distinct(transform(
        sequence(lit(1), greatest(size(col("kl")) - (w - 1), lit(1))),
        i => array_min(slice(col("kl"), i, lit(w))))))
    // explode_OUTER, deliberately: plain explode triggers
    // InferFiltersFromGenerate (`size(fps) > 0`), and predicate pushdown
    // substitutes that filter through the three projections above —
    // inlining the whole whl→kl→fps pipeline into ONE interpreted filter
    // where every window re-evaluates the full upstream arrays
    // (O(windows·grams·k·len) per doc; measured 0.4 s/doc ⇒ 300 s+ at
    // sf0.1 — this killed the round-4 bench). `fps` is structurally
    // non-empty (sequence(1, greatest(…,1)) has ≥1 element), so outer ≡
    // inner here and the vacuous inferred filter never exists.
    packed
      .select(col("doc_id"), explode_outer(col("fps")).as("key"))
      .select(col("doc_id"), (col("key") % 16777216L).as("pos"),
        expr("key div 16777216").as("fp"))
  }

  def q95Winnow(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(load(spark, dir, "documents"))
      .orderBy("doc_id", "pos")

  def tx3LangId(spark: SparkSession, dir: String): DataFrame =
    langIdScores(load(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("pred_lang"))
      .orderBy("doc_id")

  def tx4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprint(load(spark, dir, "documents")).orderBy("doc_id")

  /** Q56: corpus-level top-k n-gram frequency — the "what is in my
    * corpus" scan every training pipeline runs. Term-frequency bigrams
    * (q31b is the unigram row), count desc with lexicographic tiebreak
    * (D1). Scale: explode → partial-combining hash agg on (ngram) →
    * TakeOrdered(k); one shuffle of (ngram, partial count), never a
    * global sort. */
  def topNgrams(docs: DataFrame, n: Int = 2, k: Int = 20): DataFrame = {
    // Split ONCE into a materialized column — inlining `split(text)`
    // into each element_at re-tokenizes the document per n-gram element
    // (O(len·grams) string work; measured 4× on q56 at sf0.1, and the
    // gap grows with document length).
    docs.select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(transform(
        sequence(lit(1), size(col("w")) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j =>
          element_at(col("w"), i + lit(j))): _*))).as("ng"))
      .groupBy("ng").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ng")).limit(k)
  }

  def q56TopNgrams(spark: SparkSession, dir: String): DataFrame =
    topNgrams(load(spark, dir, "documents"))

  /** Q57: fuzzy entity matching (record linkage) — pairs within edit
    * distance `maxDist`, scoped by a blocking column.
    *
    * Candidate generation is LOSSLESS pigeonhole segment blocking
    * (PassJoin — Li, Deng, Feng, VLDB'11, public): the index side splits
    * each string into `maxDist+1` contiguous segments (even partition,
    * longer segments last); `maxDist` edits can touch at most `maxDist`
    * segments, so any string within edit distance `maxDist` preserves at
    * least one segment verbatim, shifted by at most `maxDist` positions
    * (total indels bound the shift). The probe side therefore enumerates,
    * for each candidate index length `l ∈ [len±maxDist]`, each segment's
    * substring at every admissible shift `s ∈ [Δ−d, Δ+d] ∩ [−d, d]`
    * (Δ = probe len − l), and candidates equi-join on
    * `(block, l, segment_idx, segment_value)` — never an O(n²) cross
    * join, and (being an implication of the distance bound) it misses
    * nothing.
    *
    * Verification is `levenshtein(a, b, maxDist)` — the THRESHOLD form:
    * banded O(len·d) DP with early exit (returns −1 past the bound)
    * instead of the full O(len²) table, ~10× cheaper per pair at d=2.
    *
    * Scale notes: the probe-side `distinct` hash-distributes candidates
    * across all shuffle partitions (the round-3 plan ran the whole
    * verify inside ≤25 block-keyed partitions — the actual 47 s
    * bottleneck). On degenerate key sets (fixed-format strings sharing a
    * long constant prefix, e.g. TPC-H `Customer#%09d`) the constant-
    * prefix segments still collide whole blocks — no position-based
    * lossless blocking can avoid that, since every such pair genuinely
    * preserves those segments — but the banded verify + even
    * partitioning keep the degenerate case linear-per-candidate and
    * 32-way parallel, and on realistic (variable, diverse-prefix) name
    * data the segment join prunes candidates by orders of magnitude
    * (pinned in TextOpsSpec). At cluster scale neither side is
    * broadcast-mandatory: the join is a plain equi-join, hot segment
    * values are handled by AQE skew-join splitting. */
  def fuzzyMatchCandidates(df: DataFrame, blockCol: String, idCol: String,
      nameCol: String, maxDist: Int = 2): DataFrame = {
    val k = maxDist + 1
    // Even partition of a length-l string into k segments, longer last:
    // len_i = (l div k) + [i >= k - l%k],  p_i = i*(l div k) + max(0, i-(k-l%k))
    def segLen(l: String, i: Int) =
      s"(($l div $k) + (case when $i >= $k - ($l % $k) then 1 else 0 end))"
    def segPos(l: String, i: Int) =
      s"($i * ($l div $k) + greatest(0, $i - ($k - ($l % $k))))"

    val base = df.select(col(blockCol).cast("long").as("blk"),
      col(idCol).as("id"), col(nameCol).as("name"),
      length(col(nameCol)).as("len"),
      // bag signature computed ONCE PER STRING (10 regexp_replace ops
      // per row); the per-PAIR filter in fuzzyMatchPairs is then pure
      // integer lane arithmetic on two carried longs.
      charBagSig(col(nameCol)).as("sig"))

    // Index side: one row per (string, segment).
    val segStructs = (0 until k).map { i =>
      expr(s"named_struct('i', $i, " +
        s"'v', substring(name, ${segPos("len", i)} + 1, ${segLen("len", i)}))")
    }
    val index = base
      .select(col("blk").as("blk_b"), col("id").as("id_b"),
        col("name").as("name_b"), col("len").as("lb"),
        col("sig").as("sig_b"),
        explode(array(segStructs: _*)).as("seg"))
      .select(col("blk_b"), col("id_b"), col("name_b"), col("lb"),
        col("sig_b"), col("seg.i").as("i_b"), col("seg.v").as("seg_v"))

    // Probe side: for each candidate index length l = len+dl and segment
    // i, every substring of the probe at shift s within the admissible
    // window. Generated as three SMALL staged explodes (length delta →
    // segment → shift) with the div/mod segment geometry computed once
    // per level — one giant per-row expression tree would blow past the
    // codegen method limit and fall back to interpreted eval (the
    // first-cut version did, and it dominated the runtime). The bounds
    // filter keeps only in-bounds substrings; out-of-window pairs cannot
    // be within maxDist, so dropping them loses nothing.
    val segStructsOfL = (0 until k).map { i =>
      expr(s"named_struct('i', $i, 'p', ${segPos("l", i)}, " +
        s"'sl', ${segLen("l", i)})")
    }
    // Explicit partition count: this stage is tiny-rows/huge-compute
    // (each candidate row fans out into a levenshtein after the join),
    // and AQE's size-based shuffle coalescing would collapse it to one
    // partition — user-specified repartition counts are exempt.
    val nPart = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val probe = base
      .repartition(nPart, col("blk"), col("id"))
      .select(col("blk"), col("id").as("id_a"), col("name").as("name_a"),
        col("len"), col("sig").as("sig_a"),
        explode(array((-maxDist to maxDist).map(lit): _*)).as("dl"))
      .withColumn("l", col("len") + col("dl"))
      .where(col("l") >= 1)
      .select(col("blk"), col("id_a"), col("name_a"), col("len"),
        col("sig_a"), col("dl"), col("l"),
        explode(array(segStructsOfL: _*)).as("g"))
      // admissible shift window: s ∈ [−d, d] ∩ [Δ−d, Δ+d], Δ = len−l = −dl
      .withColumn("s", explode(sequence(
        greatest(lit(-maxDist), -col("dl") - maxDist),
        least(lit(maxDist), -col("dl") + maxDist))))
      .withColumn("start", col("g.p") + col("s"))
      .where(col("start") >= 0 && col("start") + col("g.sl") <= col("len"))
      .select(col("blk"), col("id_a"), col("name_a"), col("l"),
        col("sig_a"), col("g.i").as("i_a"),
        expr("substring(name_a, start + 1, g.sl)").as("probe_v"))
    // No probe-side distinct: repeated substrings (shift windows inside
    // character runs) only add bounded pair multiplicity, which the
    // final distinct removes — a distinct here would cost a shuffle AND
    // hand the stage back to AQE coalescing.

    probe.join(index,
        col("blk") === col("blk_b") && col("l") === col("lb") &&
        col("i_a") === col("i_b") && col("probe_v") === col("seg_v") &&
        col("id_a") < col("id_b"))
      .select(col("blk"), col("id_a"), col("id_b"),
        col("name_a"), col("name_b"), col("sig_a"), col("sig_b"))
  }

  /** Character-bag signature: counts of each `alphabet` char packed into
    * disjoint 6-bit lanes of one BIGINT (counts saturate at 63 — the
    * 1-Lipschitz `min(·,63)` keeps the bound below sound). For ANY char
    * subset, one edit changes at most two lanes by 1 each, so
    *   edit_dist(a,b) ≥ ⌈Σ|lane_i(a) − lane_i(b)| / 2⌉
    * — a sound pre-filter computed once per STRING (not per pair) and
    * evaluated per pair as ~40 codegen'd integer ops, vs a banded-DP
    * levenshtein call that allocates working arrays per invocation.
    * Alphabet defaults to digits: discriminative for id-bearing names
    * (the q57 customer corpus), harmless (all-zero lanes) otherwise. */
  def charBagSig(c: Column, alphabet: String = "0123456789"): Column =
    alphabet.zipWithIndex.map { case (ch, i) =>
      shiftleft(least(length(c) - length(
        regexp_replace(c, java.util.regex.Pattern.quote(ch.toString), "")),
        lit(63)).cast("long"), i * 6)
    }.reduce(_ + _) // disjoint lanes: + ≡ bitwise OR

  private def bagDiff(a: Column, b: Column, nLanes: Int): Column =
    (0 until nLanes).map { i =>
      abs(shiftright(a, i * 6).bitwiseAND(lit(63L)) -
        shiftright(b, i * 6).bitwiseAND(lit(63L)))
    }.reduce(_ + _)

  def fuzzyMatchPairs(df: DataFrame, blockCol: String, idCol: String,
      nameCol: String, maxDist: Int = 2): DataFrame =
    fuzzyMatchCandidates(df, blockCol, idCol, nameCol, maxDist)
      // Bag filter FIRST: rejects the bulk of the colliding-segment
      // candidates (fixed-format names share long constant prefixes, so
      // segment blocking alone can't prune them) before the costly DP;
      // sig_a/sig_b were computed per-string in fuzzyMatchCandidates.
      .where(bagDiff(col("sig_a"), col("sig_b"), 10) <= lit(2L * maxDist))
      // threshold form: −1 when the banded DP proves dist > maxDist
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .where(col("dist") >= 0)
      .select(col("blk"), col("id_a"), col("id_b"), col("dist"))
      .distinct()
      // Distinct AFTER the verify, deliberately: a pair can arrive via
      // up to maxDist+1 matching segments, so deduping first LOOKS like
      // it should cut DP volume ~3× — measured, it is 5× SLOWER (7 s →
      // 35 s at sf0.1): the distinct's exchange is a tiny-bytes/
      // huge-compute boundary that AQE size-coalesces to a few
      // partitions, capping the levenshtein stage's parallelism (the
      // same trap as the candidate join, see the explicit repartition
      // in fuzzyMatchCandidates). Verifying in the join's output
      // partitioning keeps all 32 tasks busy; the redundant DP on
      // multi-segment pairs is the cheaper evil.

  /** Memoized q57 fuzzy pair set shared by q57/q142 (the
    * Dedup.exactPairs pattern): both queries are views over ONE PassJoin
    * computation — the pair list, and its transitive closure.
    * localCheckpoint'ed so the second consumer reads a few hundred
    * materialized rows instead of re-running the segment blocking. */
  val fuzzyPairs: Memo[DataFrame] =
    Memo("fuzzy_pairs", Some(fuzzyPlanFrames _)) { (spark, dir) =>
      fuzzyMatchPairs(load(spark, dir, "customer"), "c_nationkey",
        "c_custkey", "c_name")
        .withColumnRenamed("blk", "nation")
        .localCheckpoint(true)
    }

  /** Memoized 6-merge BPE training state shared by q229 (merge
    * table), q231/q241 (encoding readouts), q238 (budget curve) and
    * q249 (unseen-text encoder) — worth computing once per
    * (session, dir). Round 12: the producer is the
    * SEQUENTIAL-EQUIVALENT batched trainer ([[bpeTrainStateBatched]],
    * k = 4) — provably the same three components as
    * `bpeTrainState(rounds = 6)` (equivalence pinned at this memo
    * boundary in TextOpsSpec), in fewer distributed rounds: the
    * production-trainer swap the q248 experiment existed to earn.
    * All returned frames are eagerly checkpointed by the loop. */
  val bpeState6: Memo[(DataFrame, DataFrame, Seq[(Long, Long)])] =
    Memo("bpe_state", Some(bpePlanFrames _)) { (spark, dir) =>
      bpeTrainStateBatched(load(spark, dir, "documents"), merges = 6, k = 4)
    }

  def q57FuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairs(spark, dir).orderBy("nation", "id_a", "id_b")

  /** Q142: ENTITY RESOLUTION end-to-end — q57's fuzzy pair graph closed
    * into canonical entities: every customer appearing in a
    * distance-≤2 pair maps to its cluster's minimum custkey (the MDM
    * "golden record" id). Record linkage emits PAIRS; resolution needs
    * the transitive closure — fuzzy chains (#1~#2~#3 by one digit each)
    * make the diameter LINEAR in cluster size, so the closure runs on
    * [[Dedup.connectedComponentsStar]] (large-star/small-star, O(log n)
    * rounds — min-label propagation would need diameter rounds and
    * refuses on these chains).
    *
    * Scale: pairs from the PassJoin blocking (q57's machinery — never
    * O(n²)); the closure touches only paired nodes (a small fraction of
    * the customer table). */
  def q142EntityClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = fuzzyPairs(spark, dir)
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()
    Dedup.connectedComponentsStar(nodes, edges)
      .select(col("id").as("c_custkey"), col("component").as("entity_id"))
      .orderBy("c_custkey")
  }

  /** Q59: TF-IDF top-k terms per document — the keyword-extraction /
    * relevance-weighting primitive of every text pipeline. The idf is
    * the integer-scaled rational `(N·10000) div df` instead of the
    * textbook `ln(N/df)`: monotone in the same quantity, but exactly
    * representable in BIGINT on both engines (IEEE `ln` is not
    * guaranteed bit-identical across libm implementations, and D6 bans
    * representation-sensitive outputs). A `logIdf` double variant is
    * what production would use; the gated query uses the rational form.
    *
    * Scale: explode → two hash aggs (tf on (doc,term), df on term) →
    * broadcast 1-row corpus count → per-doc window top-k. The df side
    * shuffles (term, doc_id) pairs, never text; the window partitions
    * by doc_id so no single reducer sees more than one document's
    * terms. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = terms.groupBy("term")
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * expr("(n_docs * 10000L) div df"))
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("score"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  def q59Tfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(load(spark, dir, "documents"))

  /** Q79: per-source vocabulary statistics — token volume, type count,
    * hapax-legomena count, and type-token ratio in exact basis points.
    * The TTR is the standard lexical-diversity signal a corpus card
    * reports next to q78's volume numbers; a collapsing TTR on a source
    * flags boilerplate/templated content before training.
    *
    * Scale: one explode → partial-combining hash agg on (source, word)
    * — the only shuffle carries (source, word, partial count), never
    * text — then a per-source rollup over the (small) per-source vocab.
    * All arithmetic is exact integers (D6). */
  def vocabStats(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        expr("count_if(c = 1)").as("n_hapax"),
        expr("(count(1) * 10000) div sum(c)").as("ttr_bp"))
      .orderBy("source")

  def q79VocabStats(spark: SparkSession, dir: String): DataFrame =
    vocabStats(load(spark, dir, "documents"))

  /** Q80: collocation mining — adjacent-word bigrams whose observed
    * count is high relative to their parts' unigram frequencies
    * ("new york"-style fixed phrases). The association score is an
    * exact integer lift surrogate, `n_ab·10⁶ div (n_a·n_b)` — monotone
    * in pointwise mutual information for a fixed corpus (the corpus-size
    * factor is constant across rows), so the ranking is the PMI ranking
    * without IEEE log in the gate path (D-rules: both engines do the
    * same two integer ops).
    *
    * Scale: bigram and unigram counts are partial-combining hash aggs;
    * the count-filtered bigram table joins the unigram vocabulary twice
    * — vocabulary is orders of magnitude smaller than the corpus (Heaps'
    * law), broadcast at any realistic scale. Overflow guard: counts are
    * bounded by corpus token count N, so n_a·n_b ≤ N² — fine in BIGINT
    * up to N ≈ 3·10⁹ tokens per exact-count partition; beyond that the
    * score moves to DECIMAL internally (never in the final projection).
    *
    * Deterministic: (lift_ppm, bigram) is a total order — bigram is
    * unique after the group. */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 50)
      : DataFrame = {
    // split once: see topNgrams
    val ws = docs.select(split(col("text"), " ").as("w"))
    val uni = ws.select(explode(col("w")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = ws.filter(size(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("w")) - 1),
        i => struct(element_at(col("w"), i).as("wa"),
          element_at(col("w"), i + 1).as("wb")))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .groupBy("wa", "wb").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    bi.join(broadcast(uni.select(col("w").as("wa"), col("c").as("n_a"))),
        "wa")
      .join(broadcast(uni.select(col("w").as("wb"), col("c").as("n_b"))),
        "wb")
      .withColumn("lift_ppm", expr("(n_ab * 1000000) div (n_a * n_b)"))
      .select(concat_ws(" ", col("wa"), col("wb")).as("bigram"),
        col("n_ab"), col("n_a"), col("n_b"), col("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("bigram")).limit(k)
  }

  def q80Collocations(spark: SparkSession, dir: String): DataFrame =
    collocations(load(spark, dir, "documents"))

  /** Q116: corpus token heavy hitters — every token carrying more than
    * 1/400 (25 bp) of all token occurrences, with its exact count and
    * frequency in basis points. The vocabulary-pruning / stopword-
    * discovery primitive a corpus pipeline runs before TF-IDF-style
    * weighting.
    *
    * Determinism: the threshold is division-free (`cnt·400 > total`)
    * and freq_bp is exact integer `cnt·10⁴ div total`; (cnt desc, w)
    * is a total order. Scale: one partial-combining (token, count)
    * agg; the total frame is ONE broadcast row. The full-vocab shuffle
    * this exact form pays is what [[heavyHittersMG]] removes. */
  def q116HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val counts = load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * 400 > col("total"))
      .select(col("w"), col("cnt"),
        expr("(cnt * 10000) div total").as("freq_bp"))
      .orderBy(col("cnt").desc, col("w"))
  }

  /** Misra–Gries approximate heavy hitters with an EXACT verify pass —
    * the bounded-state scale path beside the exact q116.
    *
    * Phase 1 runs the classic k-counter Misra–Gries summary per
    * partition (one streamed pass, O(k) state); the per-partition
    * summaries (≤ P·k pairs) merge on the driver with the same
    * decrement-compaction, which preserves the n/k undercount bound
    * (summary merging is public: Agarwal et al., PODS'12). Any item
    * with true frequency > n/k is GUARANTEED present in the merged
    * summary — candidates are a superset of the true heavy hitters.
    * Phase 2 rescans once, counting ONLY the ≤ k candidate tokens
    * (broadcast hash semi-join — no full-vocab shuffle), and applies
    * the exact threshold to exact counts.
    *
    * Result: bit-identical to the exact heavy-hitter set for threshold
    * n·thresholdNum/thresholdDen whenever k ≥ den/num — approximation
    * affects only intermediate state size, never the answer. At 100 TB
    * the exact form shuffles the full vocabulary (billions of types);
    * this form shuffles nothing bigger than k counters per partition.
    *
    * TextOpsSpec pins MG ≡ exact on the documents corpus and on a
    * planted-skew fixture. */
  def heavyHittersMG(tokens: DataFrame, tokenCol: String, k: Int,
      thresholdNum: Long = 1, thresholdDen: Long = 400): DataFrame = {
    require(k >= (thresholdDen + thresholdNum - 1) / thresholdNum,
      s"k=$k too small for threshold $thresholdNum/$thresholdDen — " +
        "the MG superset guarantee needs k >= den/num")
    val spark = tokens.sparkSession
    import spark.implicits._
    def mgAdd(m: scala.collection.mutable.LinkedHashMap[String, Long],
        w: String, c: Long): Unit =
      if (m.contains(w)) m(w) += c
      else if (m.size < k) m(w) = c
      else {
        // decrement all k+1 (the arrival and every counter) by the
        // largest amount that zeroes at least one of them
        val d = math.min(c, m.valuesIterator.min)
        val dead = m.iterator.collect {
          case (kk, v) if v <= d => kk }.toList
        m.mapValuesInPlace((_, v) => v - d)
        dead.foreach(m.remove)
        if (c > d) m(w) = c - d
      }
    val partials = tokens.select(col(tokenCol).cast("string").as("w"))
      .as[String].mapPartitions { it =>
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach(mgAdd(m, _, 1L))
        m.iterator
      }.collect() // ≤ numPartitions·k pairs
    val merged = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      partials.foreach { case (w, c) => mgAdd(m, w, c) }
      m.keys.toSeq
    }
    val cand = broadcast(merged.toDF("w"))
    val counts = tokens.select(col(tokenCol).cast("string").as("w"))
      .join(cand, "w").groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = tokens.agg(count(lit(1)).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("cnt") * thresholdDen > col("total") * thresholdNum)
      .select(col("w"), col("cnt"),
        expr("(cnt * 10000) div total").as("freq_bp"))
      .orderBy(col("cnt").desc, col("w"))
  }

  /** Q138: rare-token document scoring — the integer SURPRISAL
    * surrogate for "LM quality scoring": each token contributes the
    * inverse of its corpus frequency (⌊N / cnt(w)⌋, N = total token
    * occurrences), a document's rarity is the per-token mean, and the
    * 50 rarest documents surface (jargon, garbled text, codey blobs —
    * exactly what a mixture curator inspects first). The q80 discipline:
    * an ENGINE-EXACT integer stand-in for the log-based score (−log p
    * is monotone in N/cnt), because ln/log2 doubles are libm-dependent
    * and would never hash-match.
    *
    * Scale: (token, count) partial-combining agg, one broadcast 1-row
    * total, one shuffle join of tokens→counts on token, one per-doc hash
    * agg, TakeOrdered(50). No window, no global sort. */
  def q138RareDocs(spark: SparkSession, dir: String): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val cnts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val total = cnts.agg(sum(col("cnt")).as("total"))
    toks.join(cnts, "w")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("total div cnt")).as("surprisal"))
      .withColumn("rarity", expr("surprisal div n_tokens"))
      .orderBy(col("rarity").desc, col("doc_id"))
      .limit(50)
  }

  // ---------------------------------------------------------------- q145

  /** Q145: BPE merge-candidate statistics — the FIRST round of
    * byte-pair-encoding tokenizer training: over the word vocabulary
    * (weighted by word frequency), count every adjacent character
    * pair and rank the top 20 merge candidates. The "train a
    * tokenizer on the corpus" primitive; round k > 1 only differs by
    * applying the chosen merge, so the round-1 statistics exercise
    * the whole computation shape.
    *
    * Scale: the corpus collapses to the (word, count) vocabulary
    * FIRST (Heaps' law: vocab ≪ corpus — the one shuffle that sees
    * volume carries (word, partial count)); the char-pair fan-out
    * runs over the vocab only, ≤ |word| pairs per type, then one slim
    * (pair, weight) agg and a TakeOrdered(20). All-integer (D6).
    * `substr`/`char_length` are codepoint-based in both engines, so
    * multi-byte text agrees. Words of length < 2 are filtered BEFORE
    * the `sequence` fan-out (Spark's sequence(1, 0) counts DOWN —
    * the guard is load-bearing). */
  def q145BpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wc = load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    wc.filter(length(col("w")) >= 2)
      .select(col("c"), explode(expr(
        "transform(sequence(1, char_length(w) - 1)," +
          " i -> substr(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("c")).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q229

  /** Q229: ITERATIVE BPE TOKENIZER TRAINING — `rounds` full
    * byte-pair-encoding merge rounds over the corpus word vocabulary,
    * the operator q145 computes the first round of. Output: the merge
    * table (merge_round, merge_l, merge_r, weight) — the artifact a
    * tokenizer trainer ships.
    *
    * Semantics (classic BPE, Sennrich et al. 2016 — public):
    *  - words collapse to the (word, count) VOCABULARY first (Heaps'
    *    law — the only corpus-sized shuffle), then split into
    *    character symbols;
    *  - each round counts adjacent symbol pairs weighted by word
    *    count, picks the max (ties → lexicographic (l, r) — both
    *    engines compare ASCII binary), and applies the merge
    *    LEFTMOST-GREEDY non-overlapping (in "aaaa", (a,a) merges
    *    positions 1 and 3 → [aa, aa]).
    *  - greedy application is RELATIONAL, not a string replace (a
    *    replace of "e w" could consume the suffix of a different
    *    symbol "ze"): adjacency via lead() over pos, overlapping match
    *    runs via gaps-and-islands on the match ranks, and a match
    *    merges iff its offset inside its run is even — the exact
    *    left-to-right rule, expressible identically in DuckDB, so the
    *    whole N-round training sits under the hard oracle (chained
    *    MATERIALIZED CTEs, one block per round).
    *
    * Scale: every per-round frame is vocabulary-sized (|vocab| ·
    * word-length symbol rows); windows partition by word — maximal
    * parallelism, no global sort. The driver loop localCheckpoints
    * each round (iterative-lineage rule) and the 1-row argmax
    * broadcasts into the merge-application join.
    *
    * Returns the merge table, the final vocabulary segmentation state
    * (w, c, pos, sym) — q231 reads tokens-per-word off it — and the
    * per-round weighted token totals (round → Σc over state rows;
    * round 0 = character count) — q238 reads the vocab-budget curve
    * off them. Each total is one tiny aggregate over the round's
    * already-checkpointed state. */
  def bpeTrainState(docs: DataFrame, rounds: Int)
      : (DataFrame, DataFrame, Seq[(Long, Long)]) = {
    require(rounds >= 1)
    val wc = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // char_length >= 1 guard: sequence(1, 0) counts DOWN (round-7
    // lesson); the empty-string word has no symbols in either engine.
    var s = wc.filter(length(col("w")) >= 1)
      .select(col("w"), col("c"),
        posexplode(expr(
          "transform(sequence(1, char_length(w)), i -> substr(w, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("w"), col("c"),
        (col("p0") + 1).cast("long").as("pos"), col("sym"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val totals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def total(frame: DataFrame): Long = {
      val r = frame.agg(sum(col("c"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0) // empty corpus → 0
    }
    totals += ((0L, total(s)))
    val byPos = Window.partitionBy("w").orderBy("pos")
    for (k <- 0 until rounds) {
      // a: symbols + next symbol + dense rank — consumed by the pair
      // stats, the match set, and the merge application (3×).
      val a = s.select(col("w"), col("c"), col("pos"), col("sym"),
        lead(col("sym"), 1).over(byPos).as("nsym"),
        row_number().over(byPos).cast("long").as("rn"))
        .localCheckpoint()
      val best = a.filter(col("nsym").isNotNull)
        .groupBy(col("sym").as("merge_l"), col("nsym").as("merge_r"))
        .agg(sum(col("c")).as("weight"))
        .orderBy(col("weight").desc, col("merge_l"), col("merge_r"))
        .limit(1)
        .localCheckpoint()
      merges += best.select(lit(k.toLong).as("merge_round"),
        col("merge_l"), col("merge_r"), col("weight"))
      // match rows → islands of rank-consecutive (overlapping) matches
      // → merge iff even offset within the island (leftmost-greedy).
      val m = a.join(broadcast(best),
        col("sym") === col("merge_l") && col("nsym") === col("merge_r"))
        .select(col("w"), col("rn"))
      val g = m
        .select(col("w"), col("rn"),
          (col("rn") - row_number().over(
            Window.partitionBy("w").orderBy("rn"))).as("island"))
        .select(col("w"), col("rn"),
          (((col("rn") - min(col("rn")).over(
            Window.partitionBy("w", "island"))) % 2) === 0).as("mg"))
        .filter(col("mg"))
        .select(col("w"), col("rn"))
      s = a.as("aa")
        .join(g.as("gg"), col("aa.w") === col("gg.w")
          && col("aa.rn") === col("gg.rn"), "left")
        .join(g.as("gp"), col("aa.w") === col("gp.w")
          && col("aa.rn") - 1 === col("gp.rn"), "left")
        .filter(col("gp.rn").isNull) // predecessor merged → consumed
        .select(col("aa.w").as("w"), col("aa.c").as("c"),
          col("aa.pos").as("pos"),
          when(col("gg.rn").isNotNull,
            concat(col("aa.sym"), col("aa.nsym")))
            .otherwise(col("aa.sym")).as("sym"))
        .localCheckpoint()
      totals += ((k.toLong + 1L, total(s)))
    }
    (merges.reduce(_ unionAll _).orderBy("merge_round"), s,
      totals.toSeq)
  }

  /** SEQUENTIAL-EQUIVALENT batched BPE training state — the round-12
    * memo producer behind [[bpeState6]]: multiple merges per
    * distributed round, yet PROVABLY the same (merges, final state,
    * per-ordinal totals) as [[bpeTrainState]], so the five gated
    * readouts riding the memo (q229/q231/q238/q241/q249) keep their
    * sequential-replay oracles exact on ANY corpus — equivalence is
    * by construction, not fixture luck (q248's `bpeTrainBatched`
    * keeps the throughput-first skip-conflicts rule WITH the batched
    * caveat; this trainer trades acceptance count for exactness).
    *
    * Per round, rank all pairs (weight desc, l, r), take the top
    * k + 1, and accept the maximal prefix c₁..c_j such that
    *  (a) c₂..c_j are pairwise symbol-disjoint and disjoint from c₁
    *      — stop at the FIRST conflict, never skip past it, and
    *  (b) every accepted cᵢ (i ≥ 2) has weight STRICTLY above the
    *      boundary W = weight of the stop candidate (the first
    *      conflict, or c_{k+1}; no boundary when fewer pairs exist).
    *
    * Why that equals k=1 sequential: disjoint merges leave each
    * other's pair counts AND leftmost-greedy match sites invariant
    * (a merge can only change adjacencies touching its own symbols),
    * so the unchanged ranking prefix is exactly what sequential
    * argmax visits — and every pair a merge MINTS ((x, l·r) etc.)
    * is bounded by a pair CONTAINING l or r, i.e. a conflicted
    * candidate, whose weight is ≤ W < accepted weights by (b). Ties
    * between accepted candidates resolve by the same (l, r) order
    * both trainers share. TextOpsSpec pins all three returned
    * components ≡ [[bpeTrainState]] on the fixture corpus plus a
    * planted tie/conflict corpus.
    *
    * Totals per ORDINAL (q238's curve) still exist under batching:
    * disjointness makes applications order-independent, so the state
    * total after sequential merge i is total_before − Σ_{≤i}
    * applied(c), with applied counts read off the batch's own merge
    * sites (one ≤ j-row aggregate per round). */
  /** Initial per-word symbol table (round 0), LAZY — ONE body for the
    * batched trainer and the round-18 plan dump. */
  private def bpeInitialSymbols(docs: DataFrame): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .filter(length(col("w")) >= 1)
      .select(col("w"), col("c"),
        posexplode(expr(
          "transform(sequence(1, char_length(w)), i -> substr(w, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("w"), col("c"),
        (col("p0") + 1).cast("long").as("pos"), col("sym"))

  /** LAZY build-stage frames for plan dumps (round 18): the initial
    * symbol table and the round-1 candidate pair stats over its
    * materialized leaf (the batched trainer's per-round shape). */
  private def bpePlanFrames(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = {
    val s = bpeInitialSymbols(load(spark, dir, "documents"))
      .localCheckpoint()
    val byPos = Window.partitionBy("w").orderBy("pos")
    val a = s.select(col("w"), col("c"), col("pos"), col("sym"),
      lead(col("sym"), 1).over(byPos).as("nsym"),
      row_number().over(byPos).cast("long").as("rn"))
    Seq(
      "symbols" -> bpeInitialSymbols(load(spark, dir, "documents")),
      "round1_pairstats" -> a.filter(col("nsym").isNotNull)
        .groupBy(col("sym").as("merge_l"), col("nsym").as("merge_r"))
        .agg(sum(col("c")).as("weight")))
  }

  /** fuzzy_pairs build plan (the PassJoin blocking + verify, LAZY). */
  private def fuzzyPlanFrames(spark: SparkSession,
      dir: String): Seq[(String, DataFrame)] = Seq(
    "pairs" -> fuzzyMatchPairs(load(spark, dir, "customer"),
      "c_nationkey", "c_custkey", "c_name"))

  def bpeTrainStateBatched(docs: DataFrame, merges: Int, k: Int)
      : (DataFrame, DataFrame, Seq[(Long, Long)]) = {
    require(merges >= 1 && k >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    var s = bpeInitialSymbols(docs).localCheckpoint()
    val byPos = Window.partitionBy("w").orderBy("pos")
    val mergeRows =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val totals = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var tot = { // round-0 total (character count), q229 convention
      val r = s.agg(sum(col("c"))).head
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    totals += ((0L, tot))
    var ordinal = 0L
    var exhausted = false
    while (ordinal < merges && !exhausted) {
      val a = s.select(col("w"), col("c"), col("pos"), col("sym"),
        lead(col("sym"), 1).over(byPos).as("nsym"),
        row_number().over(byPos).cast("long").as("rn"))
        .localCheckpoint()
      val cand = a.filter(col("nsym").isNotNull)
        .groupBy(col("sym").as("merge_l"), col("nsym").as("merge_r"))
        .agg(sum(col("c")).as("weight"))
        .orderBy(col("weight").desc, col("merge_l"), col("merge_r"))
        .limit(k + 1).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (cand.isEmpty) exhausted = true
      else {
        // (a) maximal disjoint prefix, stopping at the first conflict
        val used = scala.collection.mutable.Set.empty[String]
        var stop = cand.length // index of the stop candidate, if any
        var i = 0
        var halted = false
        while (i < cand.length && !halted) {
          val (l, r, _) = cand(i)
          if (used(l) || used(r)) { stop = i; halted = true }
          else { used += l; used += r; i += 1 }
        }
        val prefixEnd = if (halted) stop else math.min(cand.length, k)
        // (b) boundary weight: first conflict, else c_{k+1} if present
        val boundary: Option[Long] =
          if (halted) Some(cand(stop)._3)
          else if (cand.length > k) Some(cand(k)._3)
          else None
        val accepted = cand.take(prefixEnd).zipWithIndex
          .takeWhile { case ((_, _, w), idx) =>
            idx == 0 || boundary.forall(w > _)
          }
          .map(_._1)
          .take((merges - ordinal).toInt)
        val accDf = accepted.toSeq.map(t => (t._1, t._2))
          .toDF("merge_l", "merge_r")
        val m = a.join(broadcast(accDf),
          col("sym") === col("merge_l") && col("nsym") === col("merge_r"))
          .select(col("w"), col("rn"))
        val g = m
          .select(col("w"), col("rn"),
            (col("rn") - row_number().over(
              Window.partitionBy("w").orderBy("rn"))).as("island"))
          .select(col("w"), col("rn"),
            (((col("rn") - min(col("rn")).over(
              Window.partitionBy("w", "island"))) % 2) === 0).as("mg"))
          .filter(col("mg"))
          .select(col("w"), col("rn"))
          .localCheckpoint()
        // weighted applied-site counts per accepted pair (≤ j rows) —
        // cross-pair sites are never rank-consecutive (disjointness),
        // so (sym, nsym) of a merged row identifies its pair
        val applied = g.as("gg")
          .join(a.as("aa"), col("aa.w") === col("gg.w")
            && col("aa.rn") === col("gg.rn"))
          .groupBy(col("aa.sym").as("l"), col("aa.nsym").as("r"))
          .agg(sum(col("aa.c")).as("applied"))
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        accepted.foreach { case (l, r, w) =>
          mergeRows += ((ordinal, l, r, w))
          tot -= applied.getOrElse((l, r), 0L)
          ordinal += 1L
          totals += ((ordinal, tot))
        }
        s = a.as("aa")
          .join(g.as("gg"), col("aa.w") === col("gg.w")
            && col("aa.rn") === col("gg.rn"), "left")
          .join(g.as("gp"), col("aa.w") === col("gp.w")
            && col("aa.rn") - 1 === col("gp.rn"), "left")
          .filter(col("gp.rn").isNull)
          .select(col("aa.w").as("w"), col("aa.c").as("c"),
            col("aa.pos").as("pos"),
            when(col("gg.rn").isNotNull,
              concat(col("aa.sym"), col("aa.nsym")))
              .otherwise(col("aa.sym")).as("sym"))
          .localCheckpoint()
      }
    }
    // pair-exhausted corpora: sequential k=1 pads idle rounds with the
    // unchanged total — mirror it so the totals curve has the same
    // length on degenerate inputs too
    while (totals.size <= merges)
      totals += ((totals.size.toLong, tot))
    (mergeRows.toSeq
      .toDF("merge_round", "merge_l", "merge_r", "weight")
      .orderBy("merge_round").localCheckpoint(),
      s, totals.toSeq)
  }

  def q229BpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeState6(spark, dir)._1

  // ---------------------------------------------------------------- q248

  /** BATCHED BPE TRAINING — [[bpeTrainState]]'s merge rule, but each
    * round takes the top-`k` candidate pairs (same (weight desc, l, r)
    * rank) and applies the PREFIX-GREEDY CONFLICT-FREE subset: walking
    * the candidates in rank order, a pair is accepted iff both its symbols
    * are disjoint from every already-accepted pick of this round.
    * Disjoint accepted pairs cannot produce adjacent matches (two
    * matches at consecutive positions share the middle symbol, which
    * disjointness forbids unless it is the SAME (x,x) pair — exactly
    * the overlapping-run case the island/even-offset rule already
    * resolves), so one relational application pass applies the whole
    * batch with the identical leftmost-greedy machinery.
    *
    * This is the round-count axis the sequential trainer can't reach:
    * a production ~30k-merge vocabulary is ~30k sequential
    * driver-coordinated jobs under [[bpeTrainState]] but ~30k/k rounds
    * here — with k = 64 that is ~470 rounds, a realistic training
    * run. The trade is fidelity at the margin: counts of pairs
    * SHARING a symbol with an earlier accepted pick shift after that
    * merge (and a merge can mint a brand-new pair, e.g. (aa,aa) after
    * (a,a)), so a batched round can pick a pair sequential recounting
    * would have re-ranked — the standard batched-BPE caveat (public
    * practice in distributed tokenizer trainers). For k = 1 the
    * conflict filter is vacuous and the trainer is EXACTLY
    * [[bpeTrainState]] (pinned in TextOpsSpec), so fidelity is a knob,
    * not a fork.
    *
    * Output: (merge_round, merge_l, merge_r, weight) where
    * merge_round is the GLOBAL acceptance ordinal (rounds in order,
    * rank order within a round) — k = 1 reproduces [[bpeTrainState]]'s
    * numbering bit-for-bit. Scale shape per round is unchanged
    * (vocabulary-sized frames, per-word windows, broadcast of ≤ k
    * accepted pairs into the match join, per-round localCheckpoint);
    * the ≤ k-row candidate collect is driver-side by design — it IS
    * the round's coordination point, same as bpeTrainState's
    * limit(1). */
  def bpeTrainBatched(docs: DataFrame, rounds: Int, k: Int): DataFrame = {
    require(rounds >= 1 && k >= 1)
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    var s = wc.filter(length(col("w")) >= 1)
      .select(col("w"), col("c"),
        posexplode(expr(
          "transform(sequence(1, char_length(w)), i -> substr(w, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("w"), col("c"),
        (col("p0") + 1).cast("long").as("pos"), col("sym"))
      .localCheckpoint()
    val byPos = Window.partitionBy("w").orderBy("pos")
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var ordinal = 0L
    for (_ <- 0 until rounds) {
      val a = s.select(col("w"), col("c"), col("pos"), col("sym"),
        lead(col("sym"), 1).over(byPos).as("nsym"),
        row_number().over(byPos).cast("long").as("rn"))
        .localCheckpoint()
      val cand = a.filter(col("nsym").isNotNull)
        .groupBy(col("sym").as("merge_l"), col("nsym").as("merge_r"))
        .agg(sum(col("c")).as("weight"))
        .orderBy(col("weight").desc, col("merge_l"), col("merge_r"))
        .limit(k).collect()
      val used = scala.collection.mutable.Set.empty[String]
      val acc = cand.toSeq.flatMap { row =>
        val l = row.getString(0); val r = row.getString(1)
        if (used(l) || used(r)) None
        else { used += l; used += r; Some((l, r, row.getLong(2))) }
      }
      acc.foreach { case (l, r, w) =>
        merges += ((ordinal, l, r, w)); ordinal += 1L
      }
      if (acc.nonEmpty) {
        val accDf = acc.map(t => (t._1, t._2))
          .toDF("merge_l", "merge_r")
        val m = a.join(broadcast(accDf),
          col("sym") === col("merge_l") && col("nsym") === col("merge_r"))
          .select(col("w"), col("rn"))
        val g = m
          .select(col("w"), col("rn"),
            (col("rn") - row_number().over(
              Window.partitionBy("w").orderBy("rn"))).as("island"))
          .select(col("w"), col("rn"),
            (((col("rn") - min(col("rn")).over(
              Window.partitionBy("w", "island"))) % 2) === 0).as("mg"))
          .filter(col("mg"))
          .select(col("w"), col("rn"))
        s = a.as("aa")
          .join(g.as("gg"), col("aa.w") === col("gg.w")
            && col("aa.rn") === col("gg.rn"), "left")
          .join(g.as("gp"), col("aa.w") === col("gp.w")
            && col("aa.rn") - 1 === col("gp.rn"), "left")
          .filter(col("gp.rn").isNull)
          .select(col("aa.w").as("w"), col("aa.c").as("c"),
            col("aa.pos").as("pos"),
            when(col("gg.rn").isNotNull,
              concat(col("aa.sym"), col("aa.nsym")))
              .otherwise(col("aa.sym")).as("sym"))
          .localCheckpoint()
      }
    }
    merges.toSeq
      .toDF("merge_round", "merge_l", "merge_r", "weight")
      .orderBy("merge_round")
  }

  // ---------------------------------------------------------------- q249

  /** THE PRODUCTION BPE ENCODER — apply a TRAINED merge table to any
    * corpus (the step q231 sidesteps by reading the trainer's own
    * state): words collapse to the vocabulary, split to characters,
    * then each merge applies IN TABLE ORDER with the identical
    * leftmost-greedy island rule the trainer used. Encoding a word
    * the trainer saw reproduces its training segmentation exactly
    * (the encoder ∘ merge-table = trainer-state invariant); an UNSEEN
    * word segments by the same greedy rule — which is the entire job
    * of a tokenizer at inference time.
    *
    * Each merge is a FIXED (l, r) pair, so the match set is a plain
    * filter (no join at all — cheaper than the trainer's argmax
    * round); islands/evens/apply are the q229 machinery verbatim.
    * Scale: vocabulary-sized state, per-word windows, one
    * localCheckpoint per applied merge; at a production ~30k-merge
    * vocabulary the same conflict-free batching as [[bpeTrainBatched]]
    * applies (disjoint merges in one pass — encode-side batching
    * needs no candidate ranking at all, just the table). */
  def bpeEncodeState(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val wc = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    var s = wc.filter(length(col("w")) >= 1)
      .select(col("w"), col("c"),
        posexplode(expr(
          "transform(sequence(1, char_length(w)), i -> substr(w, i, 1))"))
          .as(Seq("p0", "sym")))
      .select(col("w"), col("c"),
        (col("p0") + 1).cast("long").as("pos"), col("sym"))
      .localCheckpoint()
    val byPos = Window.partitionBy("w").orderBy("pos")
    merges.foreach { case (l, r) =>
      val a = s.select(col("w"), col("c"), col("pos"), col("sym"),
        lead(col("sym"), 1).over(byPos).as("nsym"),
        row_number().over(byPos).cast("long").as("rn"))
        .localCheckpoint()
      val m = a.filter(col("sym") === lit(l) && col("nsym") === lit(r))
        .select(col("w"), col("rn"))
      val g = m
        .select(col("w"), col("rn"),
          (col("rn") - row_number().over(
            Window.partitionBy("w").orderBy("rn"))).as("island"))
        .select(col("w"), col("rn"),
          (((col("rn") - min(col("rn")).over(
            Window.partitionBy("w", "island"))) % 2) === 0).as("mg"))
        .filter(col("mg"))
        .select(col("w"), col("rn"))
      s = a.as("aa")
        .join(g.as("gg"), col("aa.w") === col("gg.w")
          && col("aa.rn") === col("gg.rn"), "left")
        .join(g.as("gp"), col("aa.w") === col("gp.w")
          && col("aa.rn") - 1 === col("gp.rn"), "left")
        .filter(col("gp.rn").isNull)
        .select(col("aa.w").as("w"), col("aa.c").as("c"),
          col("aa.pos").as("pos"),
          when(col("gg.rn").isNotNull,
            concat(col("aa.sym"), col("aa.nsym")))
            .otherwise(col("aa.sym")).as("sym"))
        .localCheckpoint()
    }
    s
  }

  /** Q249: ENCODE UNSEEN TEXT with the q229-trained merges — the
    * derived corpus prefixes every word with "qq" (deterministic in
    * both engines, guaranteed out-of-vocabulary), so every
    * segmentation the encoder produces is one the TRAINER NEVER SAW;
    * the readout is q231's per-source card over the derived corpus.
    * This is the inference-side half of the tokenizer story the
    * training-state readouts can't cover. */
  def q249BpeEncodeUnseen(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeState6(spark, dir)._1
      .orderBy("merge_round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        concat_ws(" ",
          expr("transform(split(text, ' '), w -> concat('qq', w))"))
          .as("text"))
    val symCounts = bpeEncodeState(docs, merges).groupBy("w")
      .agg(count(lit(1)).as("n_syms"))
    docs.select(col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      .join(symCounts, Seq("w"), "left")
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_words"),
        sum(expr("cnt * char_length(w)")).as("n_chars"),
        sum(expr("cnt * coalesce(n_syms, 0)")).as("n_tokens"))
      .withColumn("compression_ppm",
        expr("CASE WHEN n_chars > 0 THEN (n_tokens * 1000000)" +
          " div n_chars ELSE 0 END"))
      .orderBy("source")
  }

  /** Q248: BATCHED BPE READOUT — 3 rounds × top-2 candidates of
    * [[bpeTrainBatched]] over the documents corpus: 6 candidate slots,
    * with any conflicting rank-2 pick skipped (and typically re-won in
    * a later round at its recounted weight). Gated: the DuckDB oracle
    * replays rank-2 candidate selection, the k = 2 conflict rule
    * (rank 2 accepted iff symbol-disjoint from rank 1), the batch
    * application, and the global acceptance ordinals — chained
    * MATERIALIZED CTEs exactly like q229's. */
  def q248BpeBatched(spark: SparkSession, dir: String): DataFrame =
    bpeTrainBatched(load(spark, dir, "documents"), rounds = 3, k = 2)

  // ---------------------------------------------------------------- q231

  /** Q231: BPE ENCODING READOUT — apply the q229-trained merges and
    * report, per source: word/char/token totals and the chars→tokens
    * compression in ppm. The number that justifies a tokenizer budget
    * (how many tokens does this corpus cost under the trained vocab),
    * sliced by source because mixtures are negotiated per source.
    *
    * Tokens-per-word reads straight off the final training state
    * (symbols of w after N merges) — encoding a word the trainer saw
    * IS its final segmentation, no re-application pass. Empty-string
    * words have no symbols (excluded from s0 in both engines) and
    * count 0 tokens. Scale: the corpus-sized work is one (source,
    * word) count; everything else is vocab-sized. */
  def q231BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val (_, finalSyms, _) = bpeState6(spark, dir)
    val symCounts = finalSyms.groupBy("w")
      .agg(count(lit(1)).as("n_syms"))
    docs.select(col("source"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      .join(symCounts, Seq("w"), "left")
      .groupBy("source")
      .agg(sum(col("cnt")).as("n_words"),
        sum(expr("cnt * char_length(w)")).as("n_chars"),
        sum(expr("cnt * coalesce(n_syms, 0)")).as("n_tokens"))
      .withColumn("compression_ppm",
        expr("CASE WHEN n_chars > 0 THEN (n_tokens * 1000000)" +
          " div n_chars ELSE 0 END"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q241

  /** Q241: TOKENIZER FERTILITY BY LANGUAGE — tokens-per-word (e3) and
    * chars-per-token (e3) per lang under the q229-trained merges. THE
    * standard multilingual-tokenizer equity metric: a vocabulary
    * trained on a skewed mixture over-segments the under-represented
    * languages, and this table is where that shows up (fertility ≫
    * corpus mean = that lang pays more FLOPs and context per word).
    * q231 slices the same state by source (the procurement axis);
    * this slices by lang (the equity axis) and reports the fertility
    * RATIOS a tokenizer review reads. Same scale shape: one (lang,
    * word) count, vocab-sized joins. */
  def q241Fertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val (_, finalSyms, _) = bpeState6(spark, dir)
    val symCounts = finalSyms.groupBy("w")
      .agg(count(lit(1)).as("n_syms"))
    docs.select(col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .join(symCounts, Seq("w"), "left")
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
        sum(expr("cnt * char_length(w)")).as("n_chars"),
        sum(expr("cnt * coalesce(n_syms, 0)")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        expr("CASE WHEN n_words > 0 THEN (n_tokens * 1000)" +
          " div n_words ELSE 0 END").as("tokens_per_word_e3"),
        expr("CASE WHEN n_tokens > 0 THEN (n_chars * 1000)" +
          " div n_tokens ELSE 0 END").as("chars_per_token_e3"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q238

  /** Q238: BPE VOCAB-BUDGET CURVE — corpus token total after each
    * training round (round 0 = raw characters) and its compression in
    * ppm of round 0. THE readout a vocab-size decision reads: each
    * additional merge buys a measurable token reduction, and the curve
    * flattening is where a bigger vocabulary stops paying. The totals
    * are per-round single aggregates over the already-checkpointed
    * training state (weighted by word count), collected during the
    * memoized q229 training run — marginal cost ≈ zero. */
  def q238BpeCurve(spark: SparkSession, dir: String): DataFrame = {
    val (_, _, totals) = bpeState6(spark, dir)
    val chars = totals.head._2
    import spark.implicits._
    totals.toDF("merge_round", "n_tokens")
      .withColumn("compression_ppm",
        if (chars > 0) expr(s"(n_tokens * 1000000) div $chars")
        else lit(0L))
      .orderBy("merge_round")
  }

  // ---------------------------------------------------------------- q304

  /** UNIGRAM-LM TOKENIZER core (q304) — the SentencePiece-family
    * segmenter beside BPE (Kudo 2018, public): segment each word into
    * vocabulary pieces by Viterbi dynamic programming. The gateable
    * integer surrogate (the q229/q246 discipline):
    *
    *  - vocabulary = every single code point of the corpus (coverage,
    *    so every word is segmentable) ∪ the top-500 multi-code-point
    *    substrings (length ≤ 6) by corpus occurrence weight, ranked
    *    under the (freq desc, piece) total order;
    *  - piece score = its corpus frequency; the Viterbi objective is
    *    LEXICOGRAPHIC (fewest pieces, then highest total frequency) —
    *    an integer max-plus DP whose optimum value is unique, so the
    *    readout gates without a segmentation tie rule;
    *  - the DP runs as FIXED-ROUND Bellman–Ford relaxation: state(j) =
    *    best (n, Σfreq) of any prefix segmentation ending at position
    *    j; 16 rounds cover any word of the declared ≤ 16-code-point
    *    scope (a path has at most len edges). Each round is the
    *    carry ∪ relax union ranked per (word, j) under
    *    (n asc, fs desc) — replayed in DuckDB as 16 MATERIALIZED
    *    round CTEs (the q131/q229 discipline).
    *
    * Input: any docs frame with a `text` column. Output: one row per
    * eligible distinct word — (w, c, len, n, fs). Scale: everything
    * after the word count is VOCAB-sized (distinct words × ≤ 96
    * substring positions); the rank window is vocab-sized, documented
    * like q59's. */
  /** The q307 sweep's vocabulary budgets — 500 is q304's graded
    * config (its gated outputs read the kb = 500 slice); budgets are
    * NESTED PREFIXES of one (freq desc, piece) rank, so per-word
    * piece counts are monotone non-increasing in kb (spec pin). */
  private[graft] val uniBudgets: Seq[Long] = Seq(50L, 200L, 500L)

  /** The shared unigram-vocab HEAD (q304 family + q312 WordPiece —
    * round 16): eligible word counts (1 ≤ code-point len ≤ 16),
    * substring generation (len ≤ 6), corpus piece frequencies, the
    * kb-budgeted vocabulary (singles ∪ top-kb under (freq desc,
    * piece)), and the per-position piece edges (kb, w, i0, nj, freq).
    * ONE body: the Viterbi DP and the greedy WordPiece encoder read
    * the SAME edge frame, so the two tokenizers can never disagree
    * about the vocabulary. Returns (uwd = (w, c, len), uvoc =
    * (piece, freq, kb), and uedge). */
  private[graft] def uniEdgesOf(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    import spark.implicits._
    val budgets = uniBudgets.toDF("kb")
    val wc = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val uwd = wc.withColumn("len", length(col("w")).cast("long"))
      .filter(col("len").between(1, 16))
      .localCheckpoint() // feeds ugen, the DP seed, and the finale
    val ugen = uwd
      .select(col("w"), col("c"), col("len"),
        posexplode(expr("sequence(1, CAST(len AS INT))"))
          .as(Seq("p0", "i")))
      .select(col("w"), col("c"), col("len"),
        col("i").cast("long").as("i"),
        explode(expr("sequence(1, 6)")).as("l0"))
      .select(col("w"), col("c"), col("len"), col("i"),
        col("l0").cast("long").as("l"))
      .filter(col("i") + col("l") - 1 <= col("len"))
      .withColumn("piece",
        expr("substring(w, CAST(i AS INT), CAST(l AS INT))"))
      .localCheckpoint() // feeds the freq rollup AND the edge join
    val ufrq = ugen.groupBy("piece").agg(sum(col("c")).as("freq"))
      .localCheckpoint() // singles + ranked multi both read it
    val wr = Window.orderBy(col("freq").desc, col("piece"))
    val uvoc = ufrq.filter(length(col("piece")) === 1)
      .crossJoin(broadcast(budgets))
      .unionByName(ufrq.filter(length(col("piece")) >= 2)
        .withColumn("rk", row_number().over(wr))
        .crossJoin(broadcast(budgets))
        .filter(col("rk") <= col("kb")).drop("rk"))
      .localCheckpoint() // the edge join AND the returned uvoc
    val uedge = ugen.join(uvoc, "piece")
      .select(col("kb"), col("w"), (col("i") - 1).as("i0"),
        (col("i") - 1 + col("l")).as("nj"), col("freq"))
      .localCheckpoint()
    (uwd, uvoc, uedge)
  }

  /** Memoized (uwd, uvoc, uedge) head over the corpus — built once,
    * read by BOTH tokenizer memos (`memo:unigram_state` and
    * `memo:wordpiece_state`; whichever builds first pays the head,
    * the pq_res/pq_ref dependency precedent). Not a bench line item
    * of its own: its cost is part of whichever tokenizer memo builds
    * first. */
  private[graft] val uniEdges: Memo[(DataFrame, DataFrame, DataFrame)] =
    Memo("uni_edges") { (spark, dir) =>
      uniEdgesOf(load(spark, dir, "documents"))
    }

  private[graft] def uniStateOf(docs: DataFrame): DataFrame =
    uniDpOf(uniEdgesOf(docs))

  private def uniDpOf(ed: (DataFrame, DataFrame, DataFrame))
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (uwd, _, uedge) = ed
    val spark = uwd.sparkSession
    import spark.implicits._
    val budgets = uniBudgets.toDF("kb")
    var st = uwd.crossJoin(broadcast(budgets))
      .select(col("kb"), col("w"), lit(0L).as("j"), lit(0L).as("n"),
        lit(0L).as("fs"))
    val wjs = Window.partitionBy("kb", "w", "j")
      .orderBy(col("n"), col("fs").desc)
    // NOTE (round 17, measured and kept as-is): rewriting this rank-1
    // window as a min(struct(n, −fs)) hash aggregate REGRESSED rep-1
    // cost ~2× (17 s → 29 s probe) — the (kb, w, j) groups are nearly
    // unique per row, so map-side partial aggregation is pure hash-map
    // overhead with no combining; the sort-window is the right
    // operator at this group cardinality (contrast the k-means/PQ
    // argmins in Similarity, where cells-per-group ≥ 8 and the same
    // rewrite measured FASTER).
    // Round bound (round 17, guide §1.2): every DP edge advances ≥ 1
    // position, so round r already holds the optimum for every state
    // reachable in ≤ r edges — after max(len) rounds EVERY state is
    // optimal and further rounds are row-identical no-ops (the DuckDB
    // oracle keeps all 16 materialized rounds; its tail rounds are
    // the same no-ops). One tiny agg over the checkpointed uwd bounds
    // the loop exactly; the 16-round ceiling (the declared ≤ 16-cp
    // scope) is unchanged.
    val dpRounds = math.min(16L, uwd.agg(coalesce(max(col("len")),
      lit(0L))).head.getLong(0)).toInt
    for (_ <- 0 until dpRounds) {
      val relaxed = st.alias("s")
        .join(uedge.alias("e"),
          col("s.kb") === col("e.kb") && col("s.w") === col("e.w")
            && col("s.j") === col("e.i0"))
        .select(col("s.kb").as("kb"), col("s.w").as("w"),
          col("e.nj").as("j"), (col("s.n") + 1).as("n"),
          (col("s.fs") + col("e.freq")).as("fs"))
      st = st.unionByName(relaxed)
        .withColumn("rk", row_number().over(wjs))
        .filter(col("rk") === 1).drop("rk")
        .localCheckpoint() // the iterative-loop rule
    }
    st.join(uwd.select(col("w"), col("c"), col("len")), "w")
      .filter(col("j") === col("len"))
      .select(col("kb"), col("w"), col("c"), col("len"), col("n"),
        col("fs"))
      .localCheckpoint()
  }

  /** Memoized unigram segmentation state over the corpus (q304 +
    * q304b share one DP run — `memo:unigram_state`). */
  private[graft] val uniState: Memo[DataFrame] =
    Memo("unigram_state") { (spark, dir) => uniDpOf(uniEdges(spark, dir)) }

  // ---------------------------------------------------------------- q312

  /** WORDPIECE GREEDY ENCODER (round 16 — verdict item 3, completing
    * the production tokenizer triad beside BPE and unigram-LM):
    * longest-match-first segmentation over the FIXED kb = 500 unigram
    * vocabulary (Devlin et al. 2018; Song et al. 2021 "Fast WordPiece
    * Tokenization" — greedy leftmost-longest is WordPiece's inference
    * rule; the ##-continuation marking is a surface convention this
    * integer surrogate drops, the match semantics are the algorithm).
    *
    * The greedy path is UNIQUE (at each position the longest matching
    * vocab piece is one specific substring; single code points give
    * coverage), so the encoder is a deterministic fixed-round
    * advance: step(w, i0) = max over vocab edges at i0 of the end
    * position, iterated 16 rounds (a word has ≤ 16 code points, each
    * step consumes ≥ 1) — replayed in DuckDB as 16 MATERIALIZED
    * carry ∪ advance round CTEs over the SAME uedge frame the
    * Viterbi DP reads. Greedy produces a VALID segmentation, so its
    * piece count is ≥ the unigram optimum per word (TextOpsSpec pins
    * that inequality corpus-wide and a hand golden where greedy is
    * strictly worse).
    *
    * Output per eligible word: (w, c, len, n). Scale: vocab-sized
    * after the shared head — step is a (w, i0)-keyed argmax over the
    * edge frame; each round a slim join, checkpointed (the
    * iterative-loop rule). */
  private[graft] def wordPieceOf(ed: (DataFrame, DataFrame, DataFrame))
      : DataFrame = {
    val (uwd, _, uedge) = ed
    val spark = uwd.sparkSession
    import spark.implicits._
    val budgets = uniBudgets.toDF("kb")
    // kb-parameterized since round 16's q315 curve: the greedy walk
    // runs at every budget in ONE chain (the q307/uniDpOf discipline);
    // q312/q304b read the kb = 500 slice.
    val step = uedge
      .groupBy(col("kb").as("skb"), col("w").as("sw"), col("i0"))
      .agg(max(col("nj")).as("nj"))
      .localCheckpoint() // read by every greedy round
    var st = uwd.crossJoin(broadcast(budgets))
      .select(col("kb"), col("w"), col("len"), lit(0L).as("j"),
        lit(0L).as("n"))
      .localCheckpoint()
    // Round bound (round 17 — the uniDpOf rule): every greedy step
    // consumes ≥ 1 code point, so after max(len) rounds every walk is
    // done and further rounds are row-identical no-ops; one tiny agg
    // over the checkpointed uwd bounds the loop exactly (16-round
    // ceiling unchanged — the declared ≤ 16-cp scope).
    val wpRounds = math.min(16L, uwd.agg(coalesce(max(col("len")),
      lit(0L))).head.getLong(0)).toInt
    for (_ <- 0 until wpRounds) {
      val done = st.filter(col("j") === col("len"))
      val adv = st.filter(col("j") < col("len"))
        .join(step, col("kb") === col("skb")
          && col("w") === col("sw") && col("j") === col("i0"))
        .select(col("kb"), col("w"), col("len"), col("nj").as("j"),
          (col("n") + 1).as("n"))
      st = done.unionByName(adv).localCheckpoint()
    }
    st.filter(col("j") === col("len"))
      .join(uwd.select(col("w"), col("c")), "w")
      .select(col("kb"), col("w"), col("c"), col("len"), col("n"))
      .localCheckpoint()
  }

  /** Memoized WordPiece segmentation state (`memo:wordpiece_state`) —
    * q312 + q304b's third row share one greedy run over the memoized
    * edge head. */
  private[graft] val wpState: Memo[DataFrame] =
    Memo("wordpiece_state") { (spark, dir) =>
      wordPieceOf(uniEdges(spark, dir))
    }

  /** Q315: WORDPIECE VOCAB-BUDGET CURVE — corpus fertility (pieces
    * per token, e3) for the GREEDY encoder at budgets {50, 200, 500}
    * (q307's sibling on the WordPiece axis), off the same memoized
    * multi-budget greedy state. The honesty point this table exists
    * for: unlike Viterbi (structurally monotone — a bigger vocab can
    * only improve the optimum, q307's pin), greedy longest-match has
    * NO monotonicity guarantee (a newly admitted long piece can lead
    * the walk into a worse tail — the known WordPiece pathology Song
    * et al. 2021 engineer around), so this curve must be MEASURED per
    * corpus; TextOpsSpec pins the per-budget wordpiece ≥ unigram
    * inequality instead, which IS structural. */
  def q315WordpieceVocabCurve(spark: SparkSession, dir: String)
      : DataFrame =
    wpState(spark, dir)
      .groupBy("kb")
      .agg(sum(col("c")).as("n_tokens_corpus"),
        sum(col("c") * col("n")).as("n_pieces_corpus"))
      .select(col("kb"), col("n_tokens_corpus"),
        col("n_pieces_corpus"),
        expr("(n_pieces_corpus * 1000) div n_tokens_corpus")
          .as("fertility_e3"))
      .orderBy("kb")

  /** Q312: WORDPIECE ENCODE CENSUS — q304's per-length readout for
    * the greedy encoder at the graded kb = 500 vocab: distinct words,
    * corpus occurrences, corpus pieces, fertility (e3) by length. */
  def q312WordpieceEncode(spark: SparkSession, dir: String): DataFrame =
    wpState(spark, dir).filter(col("kb") === 500L)
      .groupBy("len")
      .agg(count(lit(1)).as("n_words"),
        sum(col("c")).as("n_tokens_corpus"),
        sum(col("c") * col("n")).as("n_pieces_corpus"))
      .select(col("len"), col("n_words"), col("n_tokens_corpus"),
        col("n_pieces_corpus"),
        expr("(n_pieces_corpus * 1000) div n_tokens_corpus")
          .as("fertility_e3"))
      .orderBy("len")

  /** Q304: UNIGRAM-LM ENCODE CENSUS — per word length: distinct
    * words, corpus occurrences, corpus pieces, and fertility (pieces
    * per token, e3). The "what does segmentation cost by word shape"
    * readout; with q231/q241 (BPE by source / by lang) this completes
    * the two production tokenizer families, both gated. */
  def q304UnigramEncode(spark: SparkSession, dir: String): DataFrame =
    uniState(spark, dir).filter(col("kb") === 500L)
      .groupBy("len")
      .agg(count(lit(1)).as("n_words"),
        sum(col("c")).as("n_tokens_corpus"),
        sum(col("c") * col("n")).as("n_pieces_corpus"))
      .select(col("len"), col("n_words"), col("n_tokens_corpus"),
        col("n_pieces_corpus"),
        expr("(n_pieces_corpus * 1000) div n_tokens_corpus")
          .as("fertility_e3"))
      .orderBy("len")

  /** Q304b: TOKENIZER COMPARISON — BPE (the q229-trained 6-merge
    * state) vs unigram-LM vs WordPiece (round 16: the triad complete)
    * over the SAME eligible word population (1 ≤ len ≤ 16),
    * corpus-weighted: total words, total pieces, tokens-per-word
    * (e3). The "which tokenizer for this corpus" table a vocab
    * decision reads — all three columns are gated state, so the
    * comparison itself gates (and wordpiece ≥ unigram pieces is
    * structural: greedy is a valid segmentation, Viterbi is the
    * minimum). */
  def q304bTokenizerCompare(spark: SparkSession, dir: String)
      : DataFrame = {
    val ufin = uniState(spark, dir).filter(col("kb") === 500L)
    val (_, finalSyms, _) = bpeState6(spark, dir)
    val symCounts = finalSyms.groupBy("w")
      .agg(count(lit(1)).as("n_syms"))
    val bpe = ufin.join(symCounts, "w")
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n_syms")).as("n_pieces"))
      .select(lit("bpe").as("tokenizer"), col("n_words"),
        col("n_pieces"))
    val uni = ufin
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n")).as("n_pieces"))
      .select(lit("unigram").as("tokenizer"), col("n_words"),
        col("n_pieces"))
    val wp = wpState(spark, dir).filter(col("kb") === 500L)
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * col("n")).as("n_pieces"))
      .select(lit("wordpiece").as("tokenizer"), col("n_words"),
        col("n_pieces"))
    bpe.unionByName(uni).unionByName(wp)
      .select(col("tokenizer"), col("n_words"), col("n_pieces"),
        expr("(n_pieces * 1000) div n_words").as("tokens_per_word_e3"))
      .orderBy("tokenizer")
  }

  /** Q307: UNIGRAM VOCAB-BUDGET CURVE — corpus fertility (pieces per
    * token, e3) at vocabulary budgets {50, 200, 500} (the q238 BPE
    * curve's sibling for the unigram family): budgets are nested
    * prefixes of ONE (freq desc, piece) rank, so the per-word optimum
    * piece count is monotone non-increasing in budget — the curve's
    * direction is structural (spec pin), its MAGNITUDE is the
    * measured fact a vocab-size decision reads. The kb = 500 row IS
    * q304's aggregate (the anchor). */
  def q307UnigramVocabCurve(spark: SparkSession, dir: String)
      : DataFrame =
    uniState(spark, dir)
      .groupBy("kb")
      .agg(sum(col("c")).as("n_tokens_corpus"),
        sum(col("c") * col("n")).as("n_pieces_corpus"))
      .select(col("kb"), col("n_tokens_corpus"),
        col("n_pieces_corpus"),
        expr("(n_pieces_corpus * 1000) div n_tokens_corpus")
          .as("fertility_e3"))
      .orderBy("kb")

  // ---------------------------------------------------------------- q147

  /** Q147: INVERTED INDEX construction — per token: document
    * frequency, first posting, and the first 5 doc ids as a
    * comma-joined posting-list prefix. The retrieval-side artifact a
    * corpus pipeline materializes next to the training shards (BM25 /
    * keyword search both start here).
    *
    * Determinism: postings prefix is rank-selected under the total
    * (w, doc_id) order via a row_number window, THEN collected — the
    * q42 discipline: the window sort spills, and the per-token
    * collect buffer holds ≤ 5 ids by construction, never a stopword's
    * full posting list. `collect_list(CASE …)` drops the rank > 5
    * nulls on the Spark side exactly like DuckDB's `string_agg(CASE
    * …)` skips them. */
  def q147InvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val td = load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"), col("doc_id"))
      .distinct()
    val wByW = Window.partitionBy("w").orderBy("doc_id")
    td.withColumn("rn", row_number().over(wByW))
      .groupBy("w")
      .agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("min_doc"),
        expr("concat_ws(',', transform(array_sort(" +
          "collect_list(CASE WHEN rn <= 5 THEN doc_id END))," +
          " x -> CAST(x AS STRING)))").as("postings"))
      .orderBy("w")
  }

  // ---------------------------------------------------------------- q247

  /** Q247: BM25 RETRIEVAL SCORING over the q147 inverted index's
    * postings — the retrieval readout the index exists for. Scores the
    * classic BM25 shape (k1 = 1.2, b = 0.75) in EXACT fixed-point
    * (every fraction cleared by one canonical div chain, the q80/q177
    * no-log discipline, so both engines run the identical integer
    * ops):
    *
    *  - idf_x     = (D · 10⁶) div df — q177's integer idf surrogate
    *    (monotone in D/df);
    *  - ratio_e3  = (dl · 10⁶) div avgdl_e3, avgdl_e3 = (T·1000) div D;
    *  - norm_e3   = 250 + (750 · ratio_e3) div 1000      [1 − b + b·r]
    *  - den_e3    = tf·1000 + (1200 · norm_e3) div 1000  [tf + k1·norm]
    *  - tfp_e6    = (tf · 2200 · 10⁶) div den_e3     [tf·(k1+1) / den]
    *  - term score = (idf_x · tfp_e6) div 10⁶; doc score = Σ terms.
    *
    * Query = the DETERMINISTIC mid-head term set: df-ranks 11–15
    * under the (df desc, term) total order — head enough to have real
    * postings, past the stopword crown so scores differentiate.
    *
    * Scale: everything downstream of the df/tf aggregates fans out
    * ONLY over the postings of the 5 query terms (tf ⋈ broadcast
    * query-term set), never the corpus; dl joins in on doc_id with the
    * postings as the small side; the corpus-level (T, D) scalars ride
    * one broadcast 1-row frame; top-20 is a TakeOrdered under the
    * (score desc, doc_id) total order — distributed top-k, no global
    * sort; the final rank window orders 20 rows. Query-term selection
    * ranks the vocabulary — TakeOrdered(15) then a 15-row window, same
    * discipline. */
  def q247Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25TopDocs(load(spark, dir, "documents"))

  /** [[q247Bm25]]'s body over any (doc_id, text) frame — the SQL-
    * surface entry point. */
  def bm25TopDocs(docs: DataFrame, topK: Int = 20): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qOrder = Seq(col("df").desc, col("term"))
    val qterms = dfr.orderBy(qOrder: _*).limit(15)
      .withColumn("qrank", row_number().over(Window.orderBy(qOrder: _*)))
      .filter(col("qrank") >= 11)
      .select(col("term"), col("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tot = dl.agg(sum(col("dl")).as("t_tokens"),
        count(lit(1)).as("d_docs"))
      .withColumn("avgdl_e3", expr("(t_tokens * 1000) div d_docs"))
    val scored = tf.join(broadcast(qterms), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("idf_x", expr("(d_docs * 1000000) div df"))
      .withColumn("ratio_e3", expr("(dl * 1000000) div avgdl_e3"))
      .withColumn("norm_e3", expr("250 + (750 * ratio_e3) div 1000"))
      .withColumn("den_e3",
        expr("tf * 1000 + (1200 * norm_e3) div 1000"))
      .withColumn("tscore",
        expr("(idf_x * ((tf * 2200 * 1000000) div den_e3)) div 1000000"))
    val ds = scored.groupBy("doc_id")
      .agg(sum(col("tscore")).as("score"), count(lit(1)).as("n_terms"))
    val topOrder = Seq(col("score").desc, col("doc_id"))
    ds.orderBy(topOrder: _*).limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(topOrder: _*)).cast("long"))
      .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy("rank")
  }

  // ------------------------------------------------------- q255/q256

  /** MULTI-QUERY BM25 (round 12 — the verdict-r11 generalization of
    * q247's single fixed term set): scores a whole QUERY TABLE
    * (query_id, term) in one pass, per-query top-k. A retrieval stack
    * serves batches, not one query — this is the batched-serving
    * shape: the per-term fixed-point arithmetic is byte-identical to
    * [[bm25TopDocs]] (one canonical div chain), the query table
    * broadcasts into the tf frame BEFORE anything else, so the
    * fan-out is Σ postings over ALL queries' terms grouped by
    * query_id, never |queries|·|corpus|. Terms with no postings
    * contribute nothing (inner join on the df frame), matching every
    * real scorer. Per-query top-k is one rank window PARTITIONED by
    * query_id — the sort input is the postings-bounded scored set,
    * never the corpus, and no single task ever sorts more than one
    * query's candidates. */
  def bm25TopDocsMulti(docs: DataFrame, queries: DataFrame,
      topK: Int = 10): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qt = queries.select(col("query_id"), col("term"))
      .join(dfr, "term")
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tot = dl.agg(sum(col("dl")).as("t_tokens"),
        count(lit(1)).as("d_docs"))
      .withColumn("avgdl_e3", expr("(t_tokens * 1000) div d_docs"))
    bm25RankMulti(tf, qt, dl, tot, topK)
  }

  /** The ONE canonical BM25 scoring + per-query ranking stage over
    * prebuilt frames (round 13 — factored so q275's two-stage PRF run
    * reuses the identical div chain instead of copying it): tf =
    * (doc_id, term, tf), qt = (query_id, term, df), dl = (doc_id,
    * dl), tot = the broadcast 1-row corpus scalars. */
  private[operators] def bm25RankMulti(tf: DataFrame, qt: DataFrame,
      dl: DataFrame, tot: DataFrame, topK: Int): DataFrame = {
    val scored = tf.join(broadcast(qt), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .withColumn("idf_x", expr("(d_docs * 1000000) div df"))
      .withColumn("ratio_e3", expr("(dl * 1000000) div avgdl_e3"))
      .withColumn("norm_e3", expr("250 + (750 * ratio_e3) div 1000"))
      .withColumn("den_e3",
        expr("tf * 1000 + (1200 * norm_e3) div 1000"))
      .withColumn("tscore",
        expr("(idf_x * ((tf * 2200 * 1000000) div den_e3)) div 1000000"))
    val ds = scored.groupBy("query_id", "doc_id")
      .agg(sum(col("tscore")).as("score"), count(lit(1)).as("n_terms"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    ds.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score"), col("n_terms"))
  }

  private[graft] def bm25QueryTable(docs: DataFrame): DataFrame = {
    val dfr = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val qOrder = Seq(col("df").desc, col("term"))
    dfr.orderBy(qOrder: _*).limit(25)
      .withColumn("qrank", row_number().over(Window.orderBy(qOrder: _*)))
      .filter(col("qrank") >= 11)
      .select(expr("(qrank - 11) div 5 + 1").cast("long").as("query_id"),
        col("term"))
  }

  def q255Bm25Multi(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    bm25TopDocsMulti(docs, bm25QueryTable(docs), topK = 10)
      .orderBy("query_id", "rank")
  }

  /** Q256: PER-QUERY RETRIEVAL EVAL (q253's shape over the q255 multi-
    * query run) — MRR/e6, precision@10/bp, hits@50 and the relevance-
    * set size per query, against the CONJUNCTIVE-CONTAINMENT proxy: a
    * doc is relevant to a query iff it contains ALL the query's terms
    * (the engine-replayable pseudo-relevance every lexical eval can
    * fall back on — does BM25 put the conjunctive matches first?).
    *
    * Scale: the relevance set is postings-bounded (distinct (doc,
    * term) semi-joined to the broadcast query table, grouped, HAVING
    * count = query size); metrics are one aggregate over ≤ 50 rows
    * per query. */
  def q256RetrievalEvalMulti(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = load(spark, dir, "documents")
    val queries = bm25QueryTable(docs)
    val top = bm25TopDocsMulti(docs, queries, topK = 50)
    val qsz = queries.groupBy("query_id").agg(count(lit(1)).as("qn"))
    val dterm = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val rel = dterm.join(broadcast(queries), "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("nt"))
      .join(broadcast(qsz), "query_id")
      .filter(col("nt") === col("qn"))
      .select(col("query_id"), col("doc_id"), lit(1L).as("is_rel"))
    val nrel = rel.groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"))
    top.join(rel, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(col("is_rel"), lit(0L))).as("hits_at_50"),
        coalesce(min(when(col("is_rel").isNotNull, col("rank"))),
          lit(0L)).as("first_rel_rank"),
        sum(when(col("is_rel").isNotNull && col("rank") <= 10, 1L)
          .otherwise(0L)).as("h10"))
      .join(nrel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits_at_50"), col("first_rel_rank"),
        expr("CASE WHEN first_rel_rank > 0 THEN 1000000 div " +
          "first_rel_rank ELSE 0 END").as("mrr_e6"),
        expr("(h10 * 10000) div 10").as("p_at_10_bp"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- q275

  /** Q275: PSEUDO-RELEVANCE-FEEDBACK QUERY EXPANSION (RM3-lite,
    * round 13) — the relevance LOOP a retrieval stack closes on top
    * of its scorer: run q247's 5-term query, read its top-10 docs,
    * pick the 3 strongest feedback terms (Σ tf inside the top docs
    * under the (Σtf desc, term) total order, excluding the df-rank
    * ≤ 25 crown — the stopword band every query table here avoids),
    * expand the query and re-rank with the SAME canonical scorer
    * ([[bm25RankMulti]] runs both stages — one div chain, zero
    * copies). Output = the expanded top-20.
    *
    * Scale: tf is built ONCE (checkpointed — the inverted-index
    * build; 3 consumers: stage-1 scoring, feedback mining, stage-2),
    * both scoring stages are postings-bounded (5- then 8-term query
    * tables broadcast into tf), feedback mining is a 10-doc semi-join
    * + a crown anti-join, and every rank window sorts one query's
    * candidates. */
  def q275PrfExpansion(spark: SparkSession, dir: String): DataFrame =
    prfExpansion(load(spark, dir, "documents"))

  /** [[q275PrfExpansion]]'s body over any (doc_id, text) frame — the
    * SQL-surface entry point. */
  def prfExpansion(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val tot = dl.agg(sum(col("dl")).as("t_tokens"),
        count(lit(1)).as("d_docs"))
      .withColumn("avgdl_e3", expr("(t_tokens * 1000) div d_docs"))
    val qOrder = Seq(col("df").desc, col("term"))
    val crown25 = dfr.orderBy(qOrder: _*).limit(25)
      .withColumn("qrank",
        row_number().over(Window.orderBy(qOrder: _*)))
      .localCheckpoint() // 25 rows; the query and the exclusion share it
    val qt1 = crown25.filter(col("qrank") >= 11)
      .select(lit(1L).as("query_id"), col("term"), col("df"))
    val top10 = bm25RankMulti(tf, qt1, dl, tot, topK = 10)
      .select(col("doc_id"))
    val fb = tf.join(top10, "doc_id")
      .join(crown25.select("term"), Seq("term"), "left_anti")
      .groupBy("term").agg(sum(col("tf")).as("sumtf"))
    val fbOrder = Seq(col("sumtf").desc, col("term"))
    val exp3 = fb.orderBy(fbOrder: _*).limit(3)
      .select(lit(1L).as("query_id"), col("term"))
    val qt2 = qt1.select("query_id", "term").unionAll(exp3)
      .join(dfr, "term")
      .select(col("query_id"), col("term"), col("df"))
    bm25RankMulti(tf, qt2, dl, tot, topK = 20)
      .select(col("rank"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q277

  /** Q277: RANKING CHURN UNDER INDEX MAINTENANCE (round 13) — the
    * blast radius of a CDC batch on the SERVING side: q255's 3-query
    * BM25 top-10 computed on the base corpus AND on q261's derived
    * next snapshot (mod-7 deleted, mod-5 zz-rewritten), then per
    * query: how many top-10 docs survived, exited, entered, and the
    * summed |rank move| of the survivors. q261 measures postings
    * churn (index-side); this measures RANKING churn (what users see
    * after the index maintenance lands) — the number an incremental-
    * index deployment signs off before switching snapshots.
    *
    * Scale: both rankings are the postings-bounded q255 plan; the
    * churn join is top-k-sized per query (never corpus-sized). */
  def q277RankChurn(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val q = bm25QueryTable(docs)
    val r0 = bm25TopDocsMulti(docs, q, topK = 10)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_old"))
    val r1 = bm25TopDocsMulti(derivedSnapshot(docs), q, topK = 10)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_new"))
    r0.join(r1, Seq("query_id", "doc_id"), "full_outer")
      .groupBy("query_id")
      .agg(
        sum(when(col("rank_old").isNotNull && col("rank_new").isNotNull,
          1L).otherwise(0L)).as("n_common"),
        sum(when(col("rank_new").isNull, 1L).otherwise(0L))
          .as("n_exited"),
        sum(when(col("rank_old").isNull, 1L).otherwise(0L))
          .as("n_entered"),
        sum(when(col("rank_old").isNotNull && col("rank_new").isNotNull,
          abs(col("rank_old") - col("rank_new"))).otherwise(0L))
          .as("rank_delta_sum"))
      .orderBy("query_id")
  }

  // ---------------------------------------------------------------- q261

  /** Q261: INVERTED-INDEX DELTA (index maintenance as CDC — the q129/
    * q240 discipline applied to the q147 index): between the base
    * corpus and a deterministically-derived next snapshot (doc_id %
    * 7 = 0 deleted; % 5 = 0 rewritten with every word zz-prefixed;
    * rest unchanged), emit per changed doc the postings churn —
    * terms added, terms removed, and the change class. At 100 TB an
    * index REBUILD is a full-corpus job; the delta is proportional to
    * the CHANGE volume, which is the entire point of maintaining an
    * index incrementally (the streaming twin
    * `StreamOps.invIndexDeltaStream` runs the same per-doc set
    * difference against the static base, batch ≡ stream pinned).
    *
    * Scale: distinct (doc, term) frames both sides, ONE full-outer
    * join on the compound key (co-partitionable; bucket both
    * snapshots on doc_id and the join is Exchange-free — the q129
    * snapshotDiff shape), per-doc rollup. Unchanged docs produce no
    * output rows. */
  def q261PostingsDelta(spark: SparkSession, dir: String): DataFrame =
    postingsDelta(load(spark, dir, "documents")
      .select(col("doc_id"), col("text")))

  /** [[q261PostingsDelta]]'s body over any (doc_id, text) frame —
    * StreamingSpec pins the streaming twin against it on a shared
    * literal corpus. */
  private[graft] def postingsDelta(docs: DataFrame): DataFrame = {
    val oldP = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    val newDocs = derivedSnapshot(docs)
    val newP = newDocs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .distinct()
    oldP.as("o").join(newP.as("n"),
        col("o.doc_id") === col("n.doc_id")
          && col("o.term") === col("n.term"), "full_outer")
      .select(coalesce(col("o.doc_id"), col("n.doc_id")).as("doc_id"),
        when(col("o.term").isNull, 1L).otherwise(0L).as("add_"),
        when(col("n.term").isNull, 1L).otherwise(0L).as("rem_"))
      .groupBy("doc_id")
      .agg(sum(col("add_")).as("n_added"),
        sum(col("rem_")).as("n_removed"))
      .filter(col("n_added") + col("n_removed") > 0)
      .select(col("doc_id"), col("n_added"), col("n_removed"),
        when(col("doc_id") % 7 === 0, "deleted")
          .when(col("doc_id") % 5 === 0, "rewritten")
          .otherwise("edited").as("status"))
      .orderBy("doc_id")
  }

  /** The deterministic next snapshot q261 diffs against (shared with
    * the streaming twin's spec): mod-7 docs deleted, mod-5 docs
    * rewritten with every word zz-prefixed (guaranteed new terms),
    * the rest verbatim. */
  private[graft] def derivedSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat_ws(" ", expr(
            "transform(split(text, ' '), w -> concat('zz', w))")))
          .otherwise(col("text")).as("text"))

  // ---------------------------------------------------------------- q149

  /** Q149: BIGRAM-MODEL surprisal scoring — train bigram + unigram
    * counts on the corpus itself, then score each document by the
    * mean integer inverse conditional probability of its bigrams,
    * ⌊n(w₁)·10⁶ div n(w₁w₂)⌋ (monotone in −log p(w₂|w₁) per bigram).
    * The fluency/perplexity-style quality signal q138's unigram
    * rarity can't see: a document of common words in IMPROBABLE order
    * scores high here and low there. Top 50 most-surprising docs.
    *
    * Scale: bigram counts are a partial-combining (wa, wb) agg; the
    * score join is bigram-keyed (shuffle carries two words + a
    * count); unigram vocab joins by wa (broadcast-eligible by Heaps'
    * law, left to AQE). All-integer; n(w₁)·10⁶ ≤ 10⁶·|tokens| sits
    * far under BIGINT for any per-partition exact count. */
  def q149BigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val ws = load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val bigr = ws.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1)," +
          " i -> struct(element_at(ws, i) AS wa," +
          " element_at(ws, i + 1) AS wb))")).as("p"))
      .select(col("doc_id"), col("p.wa").as("wa"), col("p.wb").as("wb"))
    val uni = ws.select(explode(col("ws")).as("wa"))
      .groupBy("wa").agg(count(lit(1)).as("na"))
    val bc = bigr.groupBy("wa", "wb").agg(count(lit(1)).as("nab"))
    bigr.join(bc, Seq("wa", "wb"))
      .join(uni, "wa")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("(na * 1000000) div nab")).as("surp_sum"))
      .withColumn("surp_mean", expr("surp_sum div n_bigrams"))
      .orderBy(col("surp_mean").desc, col("doc_id"))
      .limit(50)
  }

  // ---------------------------------------------------------------- q156

  /** Q156: token FREQUENCY SPECTRUM — the frequency-of-frequencies
    * table: how many token types occur exactly k times (k = 1..10,
    * 11 = tail), with each bucket's total token mass. The Zipf/Heaps
    * audit of a corpus (a healthy natural corpus has a hapax-heavy
    * spectrum; a templated one collapses into the tail), and the
    * input table of Good–Turing smoothing. A statistic CLASS nothing
    * else computes: aggregating the aggregate (counts of counts).
    *
    * Scale: the vocab count is the one volume shuffle; the spectrum
    * is a second tiny agg over vocab-sized input. All-integer. */
  def q156FreqSpectrum(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("k", least(col("cnt"), lit(11L)))
      .groupBy("k")
      .agg(count(lit(1)).as("n_types"), sum(col("cnt")).as("mass"))
      .orderBy("k")

  // ---------------------------------------------------------------- q160

  /** Q160: GINI–SIMPSON lexical diversity per source — 1 − Σpᵢ² in
    * exact ppm via (T² − Σc²)·10⁶ div T² (T = token total, c = per-type
    * counts). The probability two random tokens differ: a
    * division-and-log-free diversity index (TTR's q79 cousin that
    * weights by frequency, catching a source whose huge vocab hides a
    * few dominating stopwords). Σpᵢ² is the collision probability —
    * the same quantity an LM head's repetition penalty fights.
    *
    * Scale: one (source, token) partial-combining count, one
    * vocab-sized rollup. T²·10⁶ holds in BIGINT to T ≈ 3·10⁶ tokens
    * per source; beyond, the rollup moves to DECIMAL internally
    * (documented — fixture max is well under). */
  def q160SimpsonDiversity(spark: SparkSession, dir: String)
      : DataFrame =
    load(spark, dir, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("t"), sum(expr("c * c")).as("sq"))
      .select(col("source"), col("t").as("n_tokens"),
        expr("((t * t - sq) * 1000000) div (t * t)")
          .as("simpson_ppm"))
      .orderBy("source")

  // ---------------------------------------------------------------- q177

  /** Q177: per-document TOP-3 TF-IDF terms — tf · idf with idf as the
    * exact integer surrogate (N·10⁶) div df (monotone in N/df, the
    * q138/q80 no-log discipline; q138 ranks DOCS by corpus rarity,
    * this ranks TERMS within each doc — the keyword-extraction /
    * sparse-retrieval primitive that feeds BM25-style indexes and
    * topic labels). Rank ties break by term (D1 total order).
    *
    * Scale: (doc, term) tf counts and the term-keyed df frame are
    * partial-combining aggs; the per-doc rank window is bounded by a
    * doc's distinct-term count (document length), never corpus
    * vocabulary. */
  def q177TfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val tf = load(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = load(spark, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(df_, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n_docs * 1000000) div df)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("score"))
      .orderBy("doc_id", "rank")
  }

  // ---------------------------------------------------------------- q181

  /** Q181: TEMPLATE/BOILERPLATE CLUSTERS — documents grouped by their
    * first-8-word prefix; clusters of ≥2 expose mirrored or templated
    * pages (crawl boilerplate, form letters) BEFORE any expensive
    * similarity pass — the cheap blocking audit a corpus curator runs
    * first (q77 then removes the duplicated spans, q33 the near-dups;
    * this finds the template FAMILIES). Runs on the derived near-dup
    * corpus (the fixture's random words share no organic prefixes; the
    * truncation twins share their source's prefix by construction —
    * every cluster's keeper is the original doc, spec-checkable).
    *
    * Scale: the prefix is a per-row projection; one (prefix)
    * partial-combining agg — shuffle carries 8-word strings, never
    * documents. */
  def q181TemplateClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.derivedCorpus(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("nc"),
        array_join(slice(split(col("text"), " "), 1, 8), " ")
          .as("prefix"))
      .groupBy("prefix")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"),
        sum(col("nc")).as("total_chars"))
      .filter(col("n_docs") > 1)
      .orderBy("prefix")

  // ---------------------------------------------------------------- q183

  /** Q183: VOCABULARY GROWTH CURVE (Heaps' law audit) — at corpus
    * prefixes of 10%/25%/50%/100% of documents in ingest (doc_id)
    * order: tokens seen and distinct vocabulary seen. The sub-linear
    * vocab curve is what sizes tokenizer vocabularies and detects
    * synthetic/templated corpora (whose curves flatten early); the
    * PREFIX framing makes it exact without any windowed distinct:
    * a type is in the k-prefix vocabulary iff its FIRST occurrence
    * rank ≤ k — one MIN per token.
    *
    * Scale: token explode collapses to (token, first_rank, count) in
    * one partial-combining agg; doc ranks are a window over the
    * one-row-per-doc frame (q168's small-frame case); the 4 thresholds
    * fan out over the vocab-sized frame. */
  def q183VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val ranked = docs
      .select(col("doc_id"),
        row_number().over(Window.orderBy("doc_id")).cast("long")
          .as("rnk"))
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(ranked, "doc_id")
      .groupBy("w")
      .agg(min(col("rnk")).as("first_rnk"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val occ = docs
      .select(col("doc_id"), size(split(col("text"), " "))
        .cast("long").as("ntok"))
      .join(ranked, "doc_id")
    val th = n.select(explode(expr(
      "array(greatest(n_docs div 10, 1L), greatest(n_docs div 4, 1L)," +
        " greatest(n_docs div 2, 1L), n_docs)")).as("k_docs")).distinct()
    th.join(tok, col("first_rnk") <= col("k_docs"))
      .groupBy("k_docs")
      .agg(count(lit(1)).as("vocab"))
      .join(th.join(occ, col("rnk") <= col("k_docs"))
        .groupBy("k_docs").agg(sum(col("ntok")).as("tokens_seen")),
        "k_docs")
      .select(col("k_docs"), col("tokens_seen"), col("vocab"))
      .orderBy("k_docs")
  }

  // ---------------------------------------------------------------- q193

  /** Q193: VOCABULARY DRIFT — the 20 terms whose frequency shifts most
    * between the first and second corpus half (by ingest rank), scored
    * by the cross-multiplied imbalance c1·T2 − c2·T1 (the exact-integer
    * two-sample proportion test numerator — sign says which half, the
    * χ² denominator is monotone-irrelevant for ranking). The
    * distribution-shift monitor a streaming corpus needs: new jargon,
    * template churn and crawler drift surface here first.
    *
    * Scale: token counts partial-combine per (term, half); totals are
    * a 1-row broadcast; selection is TakeOrdered(20) under the
    * (|imb| desc, term) total order, then a 20-row rank window. */
  def q193VocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val ranked = docs.select(col("doc_id"),
      row_number().over(Window.orderBy("doc_id")).cast("long").as("rnk"))
    val half = docs.agg(expr("count(1) div 2").as("h"))
    val cnt = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(ranked, "doc_id")
      .crossJoin(broadcast(half))
      .select(col("w"),
        when(col("rnk") <= col("h"), 1L).otherwise(0L).as("in1"))
      .groupBy("w")
      .agg(sum(col("in1")).as("c1"),
        sum(lit(1L) - col("in1")).as("c2"))
    val tot = cnt.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("imb", expr("c1 * t2 - c2 * t1"))
      .orderBy(abs(col("imb")).desc, col("w"))
      .limit(20)
      .withColumn("rank", row_number()
        .over(Window.orderBy(abs(col("imb")).desc, col("w")))
        .cast("long"))
      .select(col("rank"), col("w"), col("c1"), col("c2"), col("imb"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q201

  /** Q201: KEYWORD IN CONTEXT (concordance) — every occurrence of a
    * target token with its ±`ctx`-token neighborhood, the corpus
    * inspection primitive every linguist/auditor runs before trusting
    * a filter rule ("show me how 'scan' is actually used"). One row
    * per hit: (doc_id, pos 1-based, left_ctx, right_ctx).
    *
    * TOKENIZE-ONCE discipline: the split projects once, positions come
    * from posexplode, and both context windows are per-row `slice`
    * reads of the SAME array attribute — no HOF re-split, no second
    * scan. Scale: pure scan → Generate → filter; the term filter drops
    * ~(1 − tf) of rows before any shuffle, and the only shuffle is the
    * final presentation sort. */
  def kwic(docs: DataFrame, term: String, ctx: Int = 2): DataFrame = {
    val hits = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(col("w")).as(Seq("i", "tok")))
      .filter(col("tok") === term)
    // posexplode i is 0-based; slice() is 1-based. Left window =
    // positions max(1, i+1-ctx) .. i, right = i+2 .. i+1+ctx (slice
    // clamps at the array end; an empty window renders "").
    val s = greatest(col("i") + 1 - ctx, lit(1))
    hits.select(col("doc_id"),
        (col("i") + 1).cast("long").as("pos"),
        concat_ws(" ", slice(col("w"), s, col("i") + 1 - s))
          .as("left_ctx"),
        concat_ws(" ", slice(col("w"), col("i") + 2, lit(ctx)))
          .as("right_ctx"))
      .orderBy("doc_id", "pos")
  }

  /** 'scan' is the fixture corpus's most frequent token (~2% of all
    * tokens) — a dense-hit worst case for the context projection. */
  def q201Kwic(spark: SparkSession, dir: String): DataFrame =
    kwic(load(spark, dir, "documents"), term = "scan", ctx = 2)

  // ---------------------------------------------------------------- q223

  /** Q223: DISTRIBUTION DRIFT between corpus halves — the
    * length-bucket histogram of the first ingest half vs the second
    * (q193's ranked halving), shares in ppm, per-bucket absolute gap,
    * and a TOTAL row carrying the exact TOTAL VARIATION DISTANCE
    * (Σ|s₁−s₂| div 2). The integer-exact stand-in for the PSI drift
    * monitor (PSI needs ln; TVD is the metric bound underneath it) —
    * the "did the corpus change under me" gate every continuously-fed
    * training pipeline runs.
    *
    * Scale: one pruned (doc_id, n_chars) scan + the global ingest
    * rank (calendar-thin at any SF ≡ one spill window); buckets are a
    * ≤10-row frame. */
  def q223DistDrift(spark: SparkSession, dir: String): DataFrame =
    distDrift(load(spark, dir, "documents"))

  /** DataFrame core of q223 — input needs (doc_id, n_chars). */
  def distDrift(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"), col("n_chars"))
    val ranked = docs
      .withColumn("rnk", row_number().over(Window.orderBy("doc_id"))
        .cast("long"))
    val half = docs.agg(expr("count(1) div 2").as("h"))
    val buckets = ranked.crossJoin(broadcast(half))
      .select(expr("least(n_chars div 100, 9)").as("bucket"),
        when(col("rnk") <= col("h"), 1L).otherwise(0L).as("in1"))
      .groupBy("bucket")
      .agg(sum(col("in1")).as("n1"),
        sum(lit(1L) - col("in1")).as("n2"))
    val tot = buckets.agg(sum(col("n1")).as("t1"),
      sum(col("n2")).as("t2"))
    val shares = buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n1"), col("n2"),
        expr("(n1 * 1000000) div t1").as("s1_ppm"),
        expr("(n2 * 1000000) div t2").as("s2_ppm"))
      .withColumn("d_ppm", abs(col("s1_ppm") - col("s2_ppm")))
    val total = shares.agg(sum(col("n1")).as("n1"),
        sum(col("n2")).as("n2"), sum(col("s1_ppm")).as("s1_ppm"),
        sum(col("s2_ppm")).as("s2_ppm"),
        expr("sum(d_ppm) div 2").as("d_ppm"))
      .select(lit(-1L).as("bucket"), col("n1"), col("n2"),
        col("s1_ppm"), col("s2_ppm"), col("d_ppm"))
    shares.unionByName(total).orderBy("bucket")
  }

  // ---------------------------------------------------------------- q226

  /** Q226: VOCABULARY HEAD-COVERAGE CURVE — for each power-of-two
    * vocab budget 2⁰..2¹⁴: how many token OCCURRENCES the top-2ᵏ types
    * cover (exact ppm). The tokenizer-design readout (pick the vocab
    * size where the curve flattens = the OOV rate a budget buys);
    * q156's spectrum slices the same distribution by frequency class,
    * q183 by ingest order — this slices it by RANK, which is the axis
    * vocab truncation actually operates on.
    *
    * Determinism: rank order (count desc, token asc) is total; all
    * BIGINT; floor-ppm.
    *
    * Scale: one (token) partial-combining count (vocab-sized, ≪
    * corpus), one vocab-sized spill-window rank+cumsum, budget filter
    * to ≤15 rows. The corpus-sized work is the first agg only. */
  def q226HeadCoverage(spark: SparkSession, dir: String): DataFrame = {
    val budgets = (0 to 14).map(1L << _)
    val wc = load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    // round 10: rank + running sum from the size-switched global scan
    // (one pass instead of rank window + cum window + total agg); at
    // 10⁹ types the split path takes over.
    Percentiles.globalOrderedScan(wc,
        Seq(col("c").desc, col("w")), "rnk",
        cums = Seq("c" -> "cum_tokens"),
        nName = Some("n_types"), totals = Seq("c" -> "n_tokens"))
      .filter(col("rnk").isin(budgets: _*))
      .select(col("rnk").as("vocab_budget"), col("cum_tokens"),
        expr("(cum_tokens * 1000000) div n_tokens").as("coverage_ppm"),
        col("n_types"), col("n_tokens"))
      .orderBy("vocab_budget")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q226_head_coverage" -> (q226HeadCoverage _),
    "q223_dist_drift" -> (q223DistDrift _),
    "q201_kwic" -> (q201Kwic _),
    "q177_tfidf_top" -> (q177TfidfTop _),
    "q183_vocab_growth" -> (q183VocabGrowth _),
    "q193_vocab_drift" -> (q193VocabDrift _),
    "q181_template_clusters" -> (q181TemplateClusters _),
    "q160_simpson_diversity" -> (q160SimpsonDiversity _),
    "q156_freq_spectrum" -> (q156FreqSpectrum _),
    "q145_bpe_pairs" -> (q145BpePairs _),
    "q229_bpe_merges" -> (q229BpeMerges _),
    "q248_bpe_batched" -> (q248BpeBatched _),
    "q247_bm25" -> (q247Bm25 _),
    "q255_bm25_multi" -> (q255Bm25Multi _),
    "q275_prf_expansion" -> (q275PrfExpansion _),
    "q277_rank_churn" -> (q277RankChurn _),
    "q256_retrieval_eval_multi" -> (q256RetrievalEvalMulti _),
    "q261_postings_delta" -> (q261PostingsDelta _),
    "q249_bpe_encode_unseen" -> (q249BpeEncodeUnseen _),
    "q231_bpe_encode" -> (q231BpeEncode _),
    "q238_bpe_curve" -> (q238BpeCurve _),
    "q241_fertility" -> (q241Fertility _),
    "q304_unigram_encode" -> (q304UnigramEncode _),
    "q312_wordpiece_encode" -> (q312WordpieceEncode _),
    "q315_wordpiece_vocab_curve" -> (q315WordpieceVocabCurve _),
    "q304b_tokenizer_compare" -> (q304bTokenizerCompare _),
    "q307_unigram_vocab_curve" -> (q307UnigramVocabCurve _),
    "q147_inverted_index" -> (q147InvertedIndex _),
    "q149_bigram_surprisal" -> (q149BigramSurprisal _),
    "q31a_text_lang" -> (q31Lang _),
    "q31b_text_tokens" -> (q31Tokens _),
    "q138_rare_docs" -> (q138RareDocs _),
    "q56_top_ngrams" -> (q56TopNgrams _),
    "q57_fuzzy_match" -> (q57FuzzyMatch _),
    "q59_tfidf" -> (q59Tfidf _),
    "q79_vocab_stats" -> (q79VocabStats _),
    "q80_collocations" -> (q80Collocations _),
    "q95_winnow" -> (q95Winnow _),
    "q116_heavy_hitters" -> (q116HeavyHitters _),
    "q32_dedup_exact" -> (q32DedupExact _),
    "q32b_dedup_rows" -> (q32bDedupRows _),
    "tx1_token_count" -> (tx1TokenCount _),
    "tx2_quality" -> (tx2Quality _),
    "tx3_lang_id" -> (tx3LangId _),
    "tx4_fingerprint" -> (tx4Fingerprint _),
    "q142_entity_clusters" -> (q142EntityClusters _),
  )

  /** tx3 IS oracle-gated (round 2): `size(split(text, re))-1`
    * equals DuckDB's `len(regexp_extract_all(text, re))` (split keeps
    * leading/trailing empties, so parts−1 = match count), and the
    * greatest-struct argmax is replicated by CASE arms evaluated in
    * descending lang order with `>=` (tie → lexicographically larger
    * lang, exactly Spark's struct comparison). */
  /** One BPE training round as DuckDB CTEs (a = adjacency, b = argmax
    * merge, g = greedy-merge row set, s{k+1} = applied vocabulary).
    * MATERIALIZED throughout: a/b/g are each referenced 2-3×, and
    * plain CTEs would inline the predecessor chain 3^rounds times
    * (the q131 AS MATERIALIZED lesson). */
  private def bpeRoundCte(k: Int): String =
    s"""a$k AS MATERIALIZED (
       |  SELECT w, c, pos, sym,
       |    LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym,
       |    ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS rn
       |  FROM s$k),
       |b$k AS MATERIALIZED (
       |  SELECT CAST($k AS BIGINT) AS merge_round, sym AS merge_l,
       |    nsym AS merge_r, CAST(SUM(c) AS BIGINT) AS weight
       |  FROM a$k WHERE nsym IS NOT NULL GROUP BY sym, nsym
       |  ORDER BY weight DESC, merge_l, merge_r LIMIT 1),
       |g$k AS MATERIALIZED (
       |  SELECT w, rn FROM (
       |    SELECT w, rn,
       |      (rn - MIN(rn) OVER (PARTITION BY w, island)) % 2 = 0 AS mg
       |    FROM (
       |      SELECT aa.w AS w, aa.rn AS rn,
       |        aa.rn - ROW_NUMBER() OVER (PARTITION BY aa.w
       |          ORDER BY aa.rn) AS island
       |      FROM a$k aa JOIN b$k bb
       |      ON aa.sym = bb.merge_l AND aa.nsym = bb.merge_r) t1) t2
       |  WHERE mg),
       |s${k + 1} AS MATERIALIZED (
       |  SELECT aa.w AS w, aa.c AS c, aa.pos AS pos,
       |    CASE WHEN gg.rn IS NOT NULL THEN aa.sym || aa.nsym
       |         ELSE aa.sym END AS sym
       |  FROM a$k aa
       |  LEFT JOIN g$k gg ON aa.w = gg.w AND aa.rn = gg.rn
       |  LEFT JOIN g$k gp ON aa.w = gp.w AND aa.rn - 1 = gp.rn
       |  WHERE gp.rn IS NULL)""".stripMargin

  /** wc → s0 head shared by the sequential AND batched training
    * oracles (vocabulary collapse + character split). */
  private val bpeHeadCtes: String =
    """WITH wc AS (
      |  SELECT w, COUNT(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY w),
      |s0 AS MATERIALIZED (
      |  SELECT w, c, CAST(i AS BIGINT) AS pos,
      |    substr(w, CAST(i AS INTEGER), 1) AS sym
      |  FROM (SELECT w, c, unnest(generate_series(1, length(w))) AS i
      |        FROM wc WHERE length(w) >= 1))""".stripMargin

  /** The full N-round training chain (wc → s0 → a/b/g/s per round),
    * ending with the s{rounds} final-state CTE — shared by the q229
    * (merge table) and q231 (encoding readout) oracles. */
  private def bpeCtes(rounds: Int): String =
    bpeHeadCtes + (0 until rounds).map(bpeRoundCte).mkString(",\n", ",\n", "")

  /** One BATCHED (k = 2) training round — b = ranked top-2 candidate
    * pairs, acc = the prefix-greedy conflict-free subset (rank 2
    * accepted iff symbol-disjoint from rank 1; for k = 2 "disjoint
    * from accepted" ≡ "disjoint from rank 1"), g/s = the identical
    * leftmost-greedy application with the accepted SET in the match
    * join (disjointness makes cross-pair matches non-adjacent, so the
    * island/even-offset rule is unchanged). MATERIALIZED throughout
    * (the q131 lesson). */
  private def bpeBatchedRoundCte(k: Int): String =
    s"""a$k AS MATERIALIZED (
       |  SELECT w, c, pos, sym,
       |    LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym,
       |    ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS rn
       |  FROM s$k),
       |b$k AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT merge_l, merge_r, weight,
       |      ROW_NUMBER() OVER (ORDER BY weight DESC, merge_l, merge_r)
       |        AS rk
       |    FROM (
       |      SELECT sym AS merge_l, nsym AS merge_r,
       |        CAST(SUM(c) AS BIGINT) AS weight
       |      FROM a$k WHERE nsym IS NOT NULL GROUP BY sym, nsym) t0) rb
       |  WHERE rk <= 2),
       |acc$k AS MATERIALIZED (
       |  SELECT b.merge_l, b.merge_r, b.weight, b.rk FROM b$k b
       |  WHERE b.rk = 1 OR NOT EXISTS (
       |    SELECT 1 FROM b$k h WHERE h.rk = 1
       |      AND (h.merge_l = b.merge_l OR h.merge_l = b.merge_r
       |        OR h.merge_r = b.merge_l OR h.merge_r = b.merge_r))),
       |g$k AS MATERIALIZED (
       |  SELECT w, rn FROM (
       |    SELECT w, rn,
       |      (rn - MIN(rn) OVER (PARTITION BY w, island)) % 2 = 0 AS mg
       |    FROM (
       |      SELECT aa.w AS w, aa.rn AS rn,
       |        aa.rn - ROW_NUMBER() OVER (PARTITION BY aa.w
       |          ORDER BY aa.rn) AS island
       |      FROM a$k aa JOIN acc$k bb
       |      ON aa.sym = bb.merge_l AND aa.nsym = bb.merge_r) t1) t2
       |  WHERE mg),
       |s${k + 1} AS MATERIALIZED (
       |  SELECT aa.w AS w, aa.c AS c, aa.pos AS pos,
       |    CASE WHEN gg.rn IS NOT NULL THEN aa.sym || aa.nsym
       |         ELSE aa.sym END AS sym
       |  FROM a$k aa
       |  LEFT JOIN g$k gg ON aa.w = gg.w AND aa.rn = gg.rn
       |  LEFT JOIN g$k gp ON aa.w = gp.w AND aa.rn - 1 = gp.rn
       |  WHERE gp.rn IS NULL)""".stripMargin

  /** One ENCODER round — identical application machinery to
    * [[bpeRoundCte]]'s g/s blocks, but the match joins the TRAINED
    * merge row b$k (fixed pair) instead of a fresh argmax; e$k chains
    * the encode-corpus state. */
  private def bpeEncodeRoundCte(k: Int): String =
    s"""ea$k AS MATERIALIZED (
       |  SELECT w, c, pos, sym,
       |    LEAD(sym) OVER (PARTITION BY w ORDER BY pos) AS nsym,
       |    ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS rn
       |  FROM e$k),
       |eg$k AS MATERIALIZED (
       |  SELECT w, rn FROM (
       |    SELECT w, rn,
       |      (rn - MIN(rn) OVER (PARTITION BY w, island)) % 2 = 0 AS mg
       |    FROM (
       |      SELECT aa.w AS w, aa.rn AS rn,
       |        aa.rn - ROW_NUMBER() OVER (PARTITION BY aa.w
       |          ORDER BY aa.rn) AS island
       |      FROM ea$k aa JOIN b$k bb
       |      ON aa.sym = bb.merge_l AND aa.nsym = bb.merge_r) t1) t2
       |  WHERE mg),
       |e${k + 1} AS MATERIALIZED (
       |  SELECT aa.w AS w, aa.c AS c, aa.pos AS pos,
       |    CASE WHEN gg.rn IS NOT NULL THEN aa.sym || aa.nsym
       |         ELSE aa.sym END AS sym
       |  FROM ea$k aa
       |  LEFT JOIN eg$k gg ON aa.w = gg.w AND aa.rn = gg.rn
       |  LEFT JOIN eg$k gp ON aa.w = gp.w AND aa.rn - 1 = gp.rn
       |  WHERE gp.rn IS NULL)""".stripMargin

  /** q249: the training chain (for b0..b5, the merge table) + the
    * encode chain over the qq-prefixed derived corpus + the q231
    * per-source readout over the encoded state. */
  private val bpeEncodeUnseenOracle: String =
    bpeCtes(6) +
      """,
        |enc_docs AS (
        |  SELECT source, array_to_string(
        |    list_transform(string_split(text, ' '), w -> 'qq' || w),
        |    ' ') AS text
        |  FROM documents),
        |ewc AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM enc_docs)
        |  GROUP BY w),
        |e0 AS MATERIALIZED (
        |  SELECT w, c, CAST(i AS BIGINT) AS pos,
        |    substr(w, CAST(i AS INTEGER), 1) AS sym
        |  FROM (SELECT w, c, unnest(generate_series(1, length(w))) AS i
        |        FROM ewc WHERE length(w) >= 1))""".stripMargin +
      (0 until 6).map(bpeEncodeRoundCte).mkString(",\n", ",\n", "") +
      """,
        |ewsum AS (SELECT w, COUNT(*) AS n_syms FROM e6 GROUP BY w),
        |epsrc AS (
        |  SELECT source, w, COUNT(*) AS cnt FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM enc_docs) GROUP BY source, w),
        |eagg AS (
        |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
        |    CAST(SUM(cnt * COALESCE(n_syms, 0)) AS BIGINT) AS n_tokens
        |  FROM epsrc LEFT JOIN ewsum USING (w) GROUP BY source)
        |SELECT source, n_words, n_chars, n_tokens,
        |  CASE WHEN n_chars > 0 THEN (n_tokens * 1000000) // n_chars
        |       ELSE 0 END AS compression_ppm
        |FROM eagg ORDER BY source""".stripMargin

  /** The BM25 scoring chain (toks → tf/df → mid-head query terms →
    * dl/avgdl → fixed-point div-chain scores → per-doc `ds` totals) —
    * shared by the q247 oracle and q252's hybrid-fusion oracle. */
  private[operators] val bm25OracleCtes: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |dfr AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term),
      |qterms AS (
      |  SELECT term, df FROM (
      |    SELECT term, df,
      |      ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrank
      |    FROM dfr) t WHERE qrank BETWEEN 11 AND 15),
      |dl AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
      |  FROM toks GROUP BY doc_id),
      |tot AS (
      |  SELECT t_tokens, d_docs, (t_tokens * 1000) // d_docs AS avgdl_e3
      |  FROM (SELECT CAST(SUM(dl) AS BIGINT) AS t_tokens,
      |          CAST(COUNT(*) AS BIGINT) AS d_docs FROM dl) t0),
      |scored AS (
      |  SELECT tf.doc_id,
      |    (((d_docs * 1000000) // df) *
      |     ((tf.tf * 2200 * 1000000) //
      |      (tf.tf * 1000 +
      |       (1200 * (250 + (750 * ((dl.dl * 1000000) // avgdl_e3))
      |         // 1000)) // 1000))) // 1000000 AS tscore
      |  FROM tf JOIN qterms USING (term)
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  CROSS JOIN tot),
      |ds AS (
      |  SELECT doc_id, CAST(SUM(tscore) AS BIGINT) AS score,
      |    CAST(COUNT(*) AS BIGINT) AS n_terms
      |  FROM scored GROUP BY doc_id)""".stripMargin

  /** The shared q255/q256 multi-query chain: q247's fixed-point BM25
    * arithmetic verbatim, the deterministic 3-query table (df-ranks
    * 11–25 in groups of 5), per-query rank window. */
  /** The query-independent BM25 base frames (round-13 split: q275's
    * two-stage PRF chain reuses these + [[bm25ScoreChain]] — one SQL
    * source of truth for the whole multi-query scorer family). */
  /** The base frames over any corpus relation `src`, CTE names
    * suffixed `b` — q277 renders this twice (base + derived next
    * snapshot) in one oracle. */
  private[operators] def bm25BaseBody(src: String, b: String): String =
    s"""toks$b AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM $src),
       |tf$b AS (
       |  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       |  FROM toks$b GROUP BY doc_id, term),
       |dfr$b AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df
       |  FROM tf$b GROUP BY term),
       |dl$b AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
       |  FROM toks$b GROUP BY doc_id),
       |tot$b AS (
       |  SELECT t_tokens, d_docs, (t_tokens * 1000) // d_docs AS avgdl_e3
       |  FROM (SELECT CAST(SUM(dl) AS BIGINT) AS t_tokens,
       |          CAST(COUNT(*) AS BIGINT) AS d_docs FROM dl$b) t0)"""
      .stripMargin

  private[operators] val bm25BaseCtes: String =
    "WITH " + bm25BaseBody("documents", "")

  /** The canonical scoring + per-query ranking stage over a query
    * table `qtName` = (query_id, term, df) — the SQL twin of
    * [[bm25RankMulti]], rendered once and suffixed so one oracle can
    * run it twice (q275's two stages). */
  private[operators] def bm25ScoreChain(sfx: String,
      qtName: String): String = bm25ScoreChainOn(sfx, qtName, "")

  /** Same chain against suffixed base frames (tf`b`/dl`b`/tot`b`) —
    * q277 scores the base AND the derived next corpus in one oracle. */
  private[operators] def bm25ScoreChainOn(sfx: String,
      qtName: String, b: String): String =
    s"""scored$sfx AS (
       |  SELECT $qtName.query_id, tf$b.doc_id,
       |    (((d_docs * 1000000) // df) *
       |     ((tf$b.tf * 2200 * 1000000) //
       |      (tf$b.tf * 1000 +
       |       (1200 * (250 + (750 * ((dl$b.dl * 1000000) // avgdl_e3))
       |         // 1000)) // 1000))) // 1000000 AS tscore
       |  FROM tf$b JOIN $qtName USING (term)
       |  JOIN dl$b ON tf$b.doc_id = dl$b.doc_id
       |  CROSS JOIN tot$b),
       |ds$sfx AS (
       |  SELECT query_id, doc_id, CAST(SUM(tscore) AS BIGINT) AS score,
       |    CAST(COUNT(*) AS BIGINT) AS n_terms
       |  FROM scored$sfx GROUP BY query_id, doc_id),
       |rk$sfx AS (
       |  SELECT query_id, doc_id, score, n_terms,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM ds$sfx)""".stripMargin

  private[operators] val bm25MultiCtes: String =
    bm25BaseCtes + """,
      |qt AS (
      |  SELECT CAST((qrank - 11) // 5 + 1 AS BIGINT) AS query_id,
      |    term, df
      |  FROM (
      |    SELECT term, df,
      |      ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrank
      |    FROM dfr) t WHERE qrank BETWEEN 11 AND 25)""".stripMargin +
      ",\n" + bm25ScoreChain("", "qt")

  /** q275: the base frames + crown/qt1, the SAME score chain twice
    * (stage-1 top-10, feedback mining outside the crown, expanded qt2,
    * stage-2 top-20). */
  private val prfOracle: String = bm25BaseCtes + """,
    |crown AS (
    |  SELECT term, df, qrank FROM (
    |    SELECT term, df,
    |      ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrank
    |    FROM dfr) t WHERE qrank <= 25),
    |qt1 AS (
    |  SELECT CAST(1 AS BIGINT) AS query_id, term, df
    |  FROM crown WHERE qrank >= 11)""".stripMargin +
    ",\n" + bm25ScoreChain("1", "qt1") + """,
    |top10 AS (SELECT doc_id FROM rk1 WHERE rank <= 10),
    |fb AS (
    |  SELECT tf.term, CAST(SUM(tf.tf) AS BIGINT) AS sumtf
    |  FROM tf JOIN top10 USING (doc_id)
    |  WHERE tf.term NOT IN (SELECT term FROM crown)
    |  GROUP BY tf.term),
    |exp3 AS (
    |  SELECT term FROM (
    |    SELECT term, ROW_NUMBER() OVER (ORDER BY sumtf DESC, term) AS r
    |    FROM fb) t WHERE r <= 3),
    |qt2 AS (
    |  SELECT CAST(1 AS BIGINT) AS query_id, u.term, dfr.df
    |  FROM (SELECT term FROM qt1 UNION ALL SELECT term FROM exp3) u
    |  JOIN dfr USING (term))""".stripMargin +
    ",\n" + bm25ScoreChain("2", "qt2") + """
    |SELECT rank, doc_id, score, n_terms FROM rk2
    |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** q277: both corpora's base frames + the q255 query table (built on
    * the BASE corpus, like the Spark side) scored twice — stage-2 df
    * comes from the NEXT corpus's dfr2 (bm25TopDocsMulti joins the
    * query table to ITS corpus's df frame) — then the per-query
    * top-10 churn rollup. */
  private val rankChurnOracle: String =
    "WITH nextc AS (\n" +
      """  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN array_to_string(
        |      list_transform(string_split(text, ' '), w -> 'zz' || w),
        |      ' ') ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0),""".stripMargin + "\n" +
      bm25BaseBody("documents", "") + ",\n" +
      bm25BaseBody("nextc", "2") + """,
        |qt AS (
        |  SELECT CAST((qrank - 11) // 5 + 1 AS BIGINT) AS query_id,
        |    term, df
        |  FROM (
        |    SELECT term, df,
        |      ROW_NUMBER() OVER (ORDER BY df DESC, term) AS qrank
        |    FROM dfr) t WHERE qrank BETWEEN 11 AND 25),
        |qtn AS (
        |  SELECT q.query_id, q.term, dfr2.df
        |  FROM (SELECT query_id, term FROM qt) q
        |  JOIN dfr2 USING (term))""".stripMargin + ",\n" +
      bm25ScoreChainOn("", "qt", "") + ",\n" +
      bm25ScoreChainOn("2", "qtn", "2") + """,
        |r0 AS (SELECT query_id, doc_id, rank FROM rk WHERE rank <= 10),
        |r1 AS (SELECT query_id, doc_id, rank FROM rk2 WHERE rank <= 10),
        |jn AS (
        |  SELECT query_id,
        |    CASE WHEN r0.rank IS NOT NULL AND r1.rank IS NOT NULL
        |      THEN 1 ELSE 0 END AS common,
        |    CASE WHEN r1.rank IS NULL THEN 1 ELSE 0 END AS exited,
        |    CASE WHEN r0.rank IS NULL THEN 1 ELSE 0 END AS entered,
        |    CASE WHEN r0.rank IS NOT NULL AND r1.rank IS NOT NULL
        |      THEN abs(r0.rank - r1.rank) ELSE 0 END AS rd
        |  FROM r0 FULL OUTER JOIN r1 USING (query_id, doc_id))
        |SELECT query_id,
        |  CAST(SUM(common) AS BIGINT) AS n_common,
        |  CAST(SUM(exited) AS BIGINT) AS n_exited,
        |  CAST(SUM(entered) AS BIGINT) AS n_entered,
        |  CAST(SUM(rd) AS BIGINT) AS rank_delta_sum
        |FROM jn GROUP BY query_id ORDER BY query_id""".stripMargin

  private val bm25MultiOracle: String = bm25MultiCtes +
    """
      |SELECT query_id, rank, doc_id, score, n_terms
      |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private val retrievalEvalMultiOracle: String = bm25MultiCtes +
    """,
      |top50 AS (SELECT * FROM rk WHERE rank <= 50),
      |qsz AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS qn
      |        FROM qt GROUP BY query_id),
      |dterm AS (SELECT DISTINCT doc_id, term FROM toks),
      |rel AS (
      |  SELECT c.query_id, c.doc_id FROM (
      |    SELECT q.query_id, d.doc_id, COUNT(*) AS nt
      |    FROM dterm d JOIN qt q USING (term)
      |    GROUP BY q.query_id, d.doc_id) c
      |  JOIN qsz USING (query_id) WHERE c.nt = qsz.qn),
      |nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
      |         FROM rel GROUP BY query_id),
      |m AS (
      |  SELECT t.query_id,
      |    CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS hits_at_50,
      |    CAST(COALESCE(MIN(CASE WHEN r.doc_id IS NOT NULL
      |      THEN t.rank END), 0) AS BIGINT) AS first_rel_rank,
      |    CAST(SUM(CASE WHEN r.doc_id IS NOT NULL AND t.rank <= 10
      |      THEN 1 ELSE 0 END) AS BIGINT) AS h10
      |  FROM top50 t LEFT JOIN rel r
      |    ON t.query_id = r.query_id AND t.doc_id = r.doc_id
      |  GROUP BY t.query_id)
      |SELECT m.query_id, COALESCE(n_rel, 0) AS n_rel, hits_at_50,
      |  first_rel_rank,
      |  CASE WHEN first_rel_rank > 0 THEN 1000000 // first_rel_rank
      |       ELSE 0 END AS mrr_e6,
      |  (h10 * 10000) // 10 AS p_at_10_bp
      |FROM m LEFT JOIN nrel USING (query_id)
      |ORDER BY m.query_id""".stripMargin

  /** q248: 3 batched rounds, then global acceptance ordinals (rounds
    * in order, rank within round) — the Scala trainer's numbering. */
  private val bpeBatchedOracle: String =
    bpeHeadCtes +
      (0 until 3).map(bpeBatchedRoundCte).mkString(",\n", ",\n", "") +
      """
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY rnd, rk) - 1 AS BIGINT)
        |    AS merge_round,
        |  merge_l, merge_r, weight
        |FROM (
        |  SELECT 0 AS rnd, merge_l, merge_r, weight, rk FROM acc0
        |  UNION ALL
        |  SELECT 1 AS rnd, merge_l, merge_r, weight, rk FROM acc1
        |  UNION ALL
        |  SELECT 2 AS rnd, merge_l, merge_r, weight, rk FROM acc2)
        |ORDER BY merge_round""".stripMargin

  private val bpeOracle: String =
    bpeCtes(6) + (0 until 6).map(k => s"SELECT * FROM b$k")
      .mkString("\n", "\nUNION ALL\n", "\nORDER BY merge_round")

  private val bpeEncodeOracle: String =
    bpeCtes(6) + """,
      |wsum AS (SELECT w, COUNT(*) AS n_syms FROM s6 GROUP BY w),
      |psrc AS (
      |  SELECT source, w, COUNT(*) AS cnt FROM (
      |    SELECT source, unnest(string_split(text, ' ')) AS w
      |    FROM documents) GROUP BY source, w),
      |agg AS (
      |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_words,
      |    CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
      |    CAST(SUM(cnt * COALESCE(n_syms, 0)) AS BIGINT) AS n_tokens
      |  FROM psrc LEFT JOIN wsum USING (w) GROUP BY source)
      |SELECT source, n_words, n_chars, n_tokens,
      |  CASE WHEN n_chars > 0 THEN (n_tokens * 1000000) // n_chars
      |       ELSE 0 END AS compression_ppm
      |FROM agg ORDER BY source""".stripMargin

  /** One unigram Bellman–Ford round as DuckDB CTEs (q304): carry ∪
    * relax, ranked per (word, position) under (n asc, fs desc); each
    * round references its predecessor twice — MATERIALIZED (the q131
    * inlining lesson). */
  private def uniRoundCte(r: Int): String =
    s"""ust$r AS MATERIALIZED (
       |  SELECT kb, w, j, n, fs FROM (
       |    SELECT kb, w, j, n, fs, ROW_NUMBER() OVER (
       |      PARTITION BY kb, w, j ORDER BY n, fs DESC) AS rk
       |    FROM (
       |      SELECT kb, w, j, n, fs FROM ust${r - 1}
       |      UNION ALL
       |      SELECT e.kb, e.w, e.nj AS j, s.n + 1 AS n,
       |        s.fs + e.freq AS fs
       |      FROM ust${r - 1} s JOIN uedge e ON e.kb = s.kb
       |        AND e.w = s.w AND e.i0 = s.j) u) t
       |  WHERE rk = 1)""".stripMargin

  /** The shared unigram HEAD chain (word filter → substring
    * generation → freq rollup → vocab (singles ∪ top-kb under (freq
    * desc, piece)) → edges) over a `wc` (w, c) word-count CTE the
    * composer supplies — ONE renderer; the Viterbi DP (q304 family)
    * and the WordPiece greedy rounds (q312) both compose after it,
    * mirroring the Scala [[uniEdgesOf]] split. */
  private val uniHeadCtes: String =
    """uwd AS MATERIALIZED (
      |  SELECT w, c, CAST(length(w) AS BIGINT) AS len FROM wc
      |  WHERE length(w) BETWEEN 1 AND 16),
      |ugen AS MATERIALIZED (
      |  SELECT w, c, len, CAST(i AS BIGINT) AS i,
      |    CAST(l AS BIGINT) AS l,
      |    substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece
      |  FROM (SELECT w, c, len,
      |          unnest(generate_series(1, CAST(len AS INTEGER))) AS i
      |        FROM uwd) t,
      |       (SELECT unnest(generate_series(1, 6)) AS l) ls
      |  WHERE i + l - 1 <= len),
      |ufrq AS MATERIALIZED (
      |  SELECT piece, CAST(SUM(c) AS BIGINT) AS freq
      |  FROM ugen GROUP BY piece),
      |ubud AS (SELECT CAST(unnest([50, 200, 500]) AS BIGINT) AS kb),
      |uvoc AS MATERIALIZED (
      |  SELECT b.kb, piece, freq FROM ufrq, ubud b
      |  WHERE length(piece) = 1
      |  UNION ALL
      |  SELECT b.kb, piece, freq FROM (
      |    SELECT piece, freq, ROW_NUMBER() OVER (
      |      ORDER BY freq DESC, piece) AS rk
      |    FROM ufrq WHERE length(piece) >= 2) t
      |  JOIN ubud b ON t.rk <= b.kb),
      |uedge AS MATERIALIZED (
      |  SELECT v.kb, g.w, g.i - 1 AS i0, g.i - 1 + g.l AS nj, v.freq
      |  FROM ugen g JOIN uvoc v USING (piece))""".stripMargin

  /** The Viterbi DP chain (seeds → 16 rounds → ufin), composed after
    * [[uniHeadCtes]]. */
  private val uniCtes: String = uniHeadCtes +
    """,
      |ust0 AS MATERIALIZED (
      |  SELECT b.kb, w, CAST(0 AS BIGINT) AS j,
      |    CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS fs
      |  FROM uwd, ubud b)""".stripMargin +
      (1 to 16).map(uniRoundCte).mkString(",\n", ",\n", "") +
      """,
        |ufin AS MATERIALIZED (
        |  SELECT s.kb, s.w, d.c, d.len, s.n, s.fs
        |  FROM ust16 s JOIN uwd d ON d.w = s.w AND d.len = s.j)"""
        .stripMargin

  /** One WordPiece greedy round as DuckDB CTEs (q312): finished words
    * carry (j = len), unfinished words ADVANCE along the unique
    * longest-match step — each round references its predecessor twice
    * (carry + advance), MATERIALIZED (the q131 inlining lesson). */
  private def wpRoundCte(r: Int): String =
    s"""wst$r AS MATERIALIZED (
       |  SELECT kb, w, len, j, n FROM wst${r - 1} WHERE j = len
       |  UNION ALL
       |  SELECT s.kb, s.w, s.len, e.nj AS j, s.n + 1 AS n
       |  FROM wst${r - 1} s JOIN wstep e ON e.kb = s.kb
       |    AND e.w = s.w AND e.i0 = s.j
       |  WHERE s.j < s.len)""".stripMargin

  /** The WordPiece chain (kb-keyed longest-match step table off the
    * SAME uedge frame → seeds per budget → 16 greedy rounds → wfin),
    * composed after [[uniHeadCtes]] — ONE renderer for q312, q304b's
    * third row and the q315 curve. */
  private val wpCtes: String =
    """wstep AS MATERIALIZED (
      |  SELECT kb, w, i0, CAST(MAX(nj) AS BIGINT) AS nj
      |  FROM uedge GROUP BY kb, w, i0),
      |wst0 AS MATERIALIZED (
      |  SELECT b.kb, w, len, CAST(0 AS BIGINT) AS j,
      |    CAST(0 AS BIGINT) AS n
      |  FROM uwd, ubud b)""".stripMargin +
      (1 to 16).map(wpRoundCte).mkString(",\n", ",\n", "") +
      """,
        |wfin AS MATERIALIZED (
        |  SELECT s.kb, s.w, d.c, d.len, s.n
        |  FROM wst16 s JOIN uwd d ON d.w = s.w AND s.j = d.len)"""
        .stripMargin

  val oracle: Map[String, String] = Map(
    // q304/q304b: the ONE uniCtes chain; q304 prepends its own word
    // count, q304b composes after the full BPE chain (s6) so both
    // tokenizers read the same corpus words.
    "q304_unigram_encode" ->
      ("""WITH wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |""".stripMargin + uniCtes + """
        |SELECT len, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens_corpus,
        |  CAST(SUM(c * n) AS BIGINT) AS n_pieces_corpus,
        |  (CAST(SUM(c * n) AS BIGINT) * 1000)
        |    // CAST(SUM(c) AS BIGINT) AS fertility_e3
        |FROM ufin WHERE kb = 500 GROUP BY len
        |ORDER BY len""".stripMargin),
    "q304b_tokenizer_compare" ->
      (bpeCtes(6) + """,
        |wsum AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_syms
        |         FROM s6 GROUP BY w),
        |""".stripMargin + uniCtes + ",\n" + wpCtes + """,
        |cmp AS (
        |  SELECT 'bpe' AS tokenizer,
        |    CAST(SUM(u.c) AS BIGINT) AS n_words,
        |    CAST(SUM(u.c * ws.n_syms) AS BIGINT) AS n_pieces
        |  FROM ufin u JOIN wsum ws ON ws.w = u.w WHERE u.kb = 500
        |  UNION ALL
        |  SELECT 'unigram' AS tokenizer,
        |    CAST(SUM(c) AS BIGINT) AS n_words,
        |    CAST(SUM(c * n) AS BIGINT) AS n_pieces
        |  FROM ufin WHERE kb = 500
        |  UNION ALL
        |  SELECT 'wordpiece' AS tokenizer,
        |    CAST(SUM(c) AS BIGINT) AS n_words,
        |    CAST(SUM(c * n) AS BIGINT) AS n_pieces
        |  FROM wfin WHERE kb = 500)
        |SELECT tokenizer, n_words, n_pieces,
        |  (n_pieces * 1000) // n_words AS tokens_per_word_e3
        |FROM cmp ORDER BY tokenizer""".stripMargin),
    // q312: the SAME uniHeadCtes + the WordPiece greedy rounds, then
    // q304's per-length census shape off wfin.
    "q312_wordpiece_encode" ->
      ("""WITH wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |""".stripMargin + uniHeadCtes + ",\n" + wpCtes + """
        |SELECT len, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens_corpus,
        |  CAST(SUM(c * n) AS BIGINT) AS n_pieces_corpus,
        |  (CAST(SUM(c * n) AS BIGINT) * 1000)
        |    // CAST(SUM(c) AS BIGINT) AS fertility_e3
        |FROM wfin WHERE kb = 500 GROUP BY len
        |ORDER BY len""".stripMargin),
    // q315: the same head + kb-keyed greedy chain, grouped by budget.
    "q315_wordpiece_vocab_curve" ->
      ("""WITH wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |""".stripMargin + uniHeadCtes + ",\n" + wpCtes + """
        |SELECT kb, CAST(SUM(c) AS BIGINT) AS n_tokens_corpus,
        |  CAST(SUM(c * n) AS BIGINT) AS n_pieces_corpus,
        |  (CAST(SUM(c * n) AS BIGINT) * 1000)
        |    // CAST(SUM(c) AS BIGINT) AS fertility_e3
        |FROM wfin GROUP BY kb ORDER BY kb""".stripMargin),
    "q307_unigram_vocab_curve" ->
      ("""WITH wc AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) t
        |  GROUP BY w),
        |""".stripMargin + uniCtes + """
        |SELECT kb, CAST(SUM(c) AS BIGINT) AS n_tokens_corpus,
        |  CAST(SUM(c * n) AS BIGINT) AS n_pieces_corpus,
        |  (CAST(SUM(c * n) AS BIGINT) * 1000)
        |    // CAST(SUM(c) AS BIGINT) AS fertility_e3
        |FROM ufin GROUP BY kb ORDER BY kb""".stripMargin),
    // q226: same (count desc, token asc) rank, same running sum,
    // same power-of-two budget filter, floor-ppm (all BIGINT).
    "q226_head_coverage" ->
      """WITH c AS (
        |  SELECT w, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY w),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
        |             CAST(COUNT(*) AS BIGINT) AS n_types FROM c),
        |r AS (
        |  SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rnk,
        |    cnt FROM c),
        |cum AS (
        |  SELECT rnk, CAST(SUM(cnt) OVER (ORDER BY rnk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_tokens
        |  FROM r)
        |SELECT rnk AS vocab_budget, cum_tokens,
        |  (cum_tokens * 1000000) // n_tokens AS coverage_ppm,
        |  n_types, n_tokens
        |FROM cum, t
        |WHERE rnk IN (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024,
        |  2048, 4096, 8192, 16384)
        |ORDER BY vocab_budget""".stripMargin,
    // q223: same ingest-rank halving as q193, same floor-ppm shares,
    // TOTAL row = exact TVD (all-BIGINT).
    "q223_dist_drift" ->
      """WITH ranked AS (
        |  SELECT n_chars,
        |    ROW_NUMBER() OVER (ORDER BY doc_id) AS rnk
        |  FROM documents),
        |h AS (SELECT COUNT(*) // 2 AS hf FROM documents),
        |b AS (
        |  SELECT least(n_chars // 100, 9) AS bucket,
        |    CAST(SUM(CASE WHEN rnk <= hf THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN rnk <= hf THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n2
        |  FROM ranked, h GROUP BY 1),
        |t AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
        |             CAST(SUM(n2) AS BIGINT) AS t2 FROM b),
        |s AS (
        |  SELECT bucket, n1, n2,
        |    (n1 * 1000000) // t1 AS s1_ppm,
        |    (n2 * 1000000) // t2 AS s2_ppm,
        |    abs((n1 * 1000000) // t1 - (n2 * 1000000) // t2) AS d_ppm
        |  FROM b, t)
        |SELECT * FROM (
        |  SELECT bucket, n1, n2, s1_ppm, s2_ppm, d_ppm FROM s
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST(SUM(n1) AS BIGINT),
        |    CAST(SUM(n2) AS BIGINT), CAST(SUM(s1_ppm) AS BIGINT),
        |    CAST(SUM(s2_ppm) AS BIGINT),
        |    CAST(SUM(d_ppm) AS BIGINT) // 2
        |  FROM s)
        |ORDER BY bucket""".stripMargin,
    // q201: 1-based positions via unnest(generate_series) in the
    // SELECT clause (DuckDB 1.0.0 rejects lateral table-fn column
    // args); list slices are 1-based inclusive and an empty window
    // renders '' through array_to_string, matching Spark's
    // concat_ws over an empty slice.
    "q201_kwic" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |p AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(1, len(w))) AS i
        |  FROM t)
        |SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |  COALESCE(array_to_string(w[greatest(i - 2, 1):i - 1], ' '),
        |    '') AS left_ctx,
        |  COALESCE(array_to_string(w[i + 1:least(i + 2, len(w))], ' '),
        |    '') AS right_ctx
        |FROM p WHERE w[i] = 'scan'
        |ORDER BY doc_id, pos""".stripMargin,
    // q193: same ingest-rank halving, same cross-multiplied imbalance,
    // same (|imb| desc, term) selection order.
    "q193_vocab_drift" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
        |  FROM documents),
        |h AS (SELECT COUNT(*) // 2 AS h FROM documents),
        |tok AS (
        |  SELECT t.w,
        |    CASE WHEN r.rnk <= h.h THEN 1 ELSE 0 END AS in1
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  JOIN ranked r ON r.doc_id = t.doc_id, h),
        |cnt AS (
        |  SELECT w, CAST(SUM(in1) AS BIGINT) AS c1,
        |    CAST(SUM(1 - in1) AS BIGINT) AS c2
        |  FROM tok GROUP BY w),
        |tot AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS t1,
        |    CAST(SUM(c2) AS BIGINT) AS t2 FROM cnt),
        |sc AS (
        |  SELECT w, c1, c2, c1 * t.t2 - c2 * t.t1 AS imb
        |  FROM cnt, tot t),
        |r AS (
        |  SELECT w, c1, c2, imb,
        |    ROW_NUMBER() OVER (ORDER BY abs(imb) DESC, w) AS rank
        |  FROM sc)
        |SELECT CAST(rank AS BIGINT) AS rank, w, c1, c2, imb
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // q183: same doc-rank prefix framing (first-occurrence MIN per
    // type), same threshold set; joins are range predicates on the
    // vocab-sized frame.
    "q183_vocab_growth" ->
      """WITH ranked AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
        |  FROM documents),
        |tok AS (
        |  SELECT w, MIN(r.rnk) AS first_rnk
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents) t
        |  JOIN ranked r ON r.doc_id = t.doc_id
        |  GROUP BY w),
        |occ AS (
        |  SELECT r.rnk,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok
        |  FROM documents d JOIN ranked r ON r.doc_id = d.doc_id),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |th AS (
        |  SELECT DISTINCT unnest(ARRAY[
        |    GREATEST(n_docs // 10, 1), GREATEST(n_docs // 4, 1),
        |    GREATEST(n_docs // 2, 1), n_docs]) AS k_docs
        |  FROM n),
        |v AS (
        |  SELECT th.k_docs, COUNT(*) AS vocab
        |  FROM th JOIN tok ON tok.first_rnk <= th.k_docs
        |  GROUP BY th.k_docs),
        |s AS (
        |  SELECT th.k_docs, CAST(SUM(occ.ntok) AS BIGINT)
        |    AS tokens_seen
        |  FROM th JOIN occ ON occ.rnk <= th.k_docs
        |  GROUP BY th.k_docs)
        |SELECT v.k_docs, s.tokens_seen, v.vocab
        |FROM v JOIN s ON s.k_docs = v.k_docs
        |ORDER BY v.k_docs""".stripMargin,
    // q181: same derived corpus (q33c's near-dup twin encoding), same
    // 8-word prefix key (both slices clamp short docs).
    "q181_template_clusters" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(string_split(text, ' ')[1:greatest(
        |      len(string_split(text, ' ')) - 3, 1)], ' ')
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, length(text) AS nc,
        |    array_to_string(string_split(text, ' ')[1:8], ' ')
        |      AS prefix
        |  FROM corpus)
        |SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS keeper,
        |  CAST(SUM(nc) AS BIGINT) AS total_chars
        |FROM p GROUP BY prefix HAVING COUNT(*) > 1
        |ORDER BY prefix""".stripMargin,
    // q177: same tf/df counts, same non-negative integer idf
    // surrogate, same (score desc, term) rank tie order.
    "q177_tfidf_top" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.term,
        |    CAST(tf.tf * ((n.n_docs * 1000000) // df.df) AS BIGINT)
        |      AS score
        |  FROM tf JOIN df ON df.term = tf.term, n),
        |r AS (
        |  SELECT doc_id, term, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rank
        |  FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // q160: same two-level integer sums; SUMs recast to BIGINT.
    "q160_simpson_diversity" ->
      """WITH c AS (
        |  SELECT source, w, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY source, w),
        |a AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS t,
        |    CAST(SUM(c * c) AS BIGINT) AS sq
        |  FROM c GROUP BY source)
        |SELECT source, t AS n_tokens,
        |  ((t * t - sq) * 1000000) // (t * t) AS simpson_ppm
        |FROM a ORDER BY source""".stripMargin,
    // q156: counts-of-counts over the identical tokenization; LEAST
    // caps the tail bucket identically (both BIGINT).
    "q156_freq_spectrum" ->
      """WITH c AS (
        |  SELECT w, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY w)
        |SELECT LEAST(cnt, 11) AS k, COUNT(*) AS n_types,
        |  CAST(SUM(cnt) AS BIGINT) AS mass
        |FROM c GROUP BY 1 ORDER BY k""".stripMargin,
    // q229: the N-round BPE training unrolled as one MATERIALIZED CTE
    // block per round (each s/a/g level is referenced 2-3x — plain
    // CTEs would inline 3^rounds, the q131 lesson). Same relational
    // greedy-merge rule as the Spark loop: islands of rank-consecutive
    // matches, merge iff even offset.
    "q229_bpe_merges" -> bpeOracle,
    "q248_bpe_batched" -> bpeBatchedOracle,
    // q249: training chain for the merge table, encode chain over the
    // qq-prefixed derived corpus (guaranteed out-of-vocabulary), q231
    // readout shape.
    "q249_bpe_encode_unseen" -> bpeEncodeUnseenOracle,
    // q247: same tf/df/dl counts, same canonical fixed-point div
    // chain (idf_x, ratio_e3, norm_e3, den_e3, tfp_e6), same
    // (df desc, term) query-term ranks 11–15, same (score desc,
    // doc_id) top-20 + rank.
    "q247_bm25" -> (bm25OracleCtes +
      """
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
        |    AS BIGINT) AS rank,
        |  doc_id, score, n_terms
        |FROM ds ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // q255: the q247 arithmetic over the deterministic 3-query table
    // (df-ranks 11–25 grouped by 5), per-query ROW_NUMBER top-10.
    "q255_bm25_multi" -> bm25MultiOracle,
    // q275: base frames + the one score chain twice + crown-excluded
    // feedback mining — the whole PRF loop under one oracle.
    "q275_prf_expansion" -> prfOracle,
    "q277_rank_churn" -> rankChurnOracle,
    // q261: same derived snapshot (mod-7 delete, mod-5 zz-rewrite),
    // distinct postings both sides, full-outer set difference per doc.
    "q261_postings_delta" ->
      """WITH oldp AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM documents) t),
        |newd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN array_to_string(
        |      list_transform(string_split(text, ' '), w -> 'zz' || w),
        |      ' ') ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0),
        |newp AS (
        |  SELECT DISTINCT doc_id, term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |    FROM newd) t),
        |j AS (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.term IS NULL THEN 1 ELSE 0 END AS add_,
        |    CASE WHEN n.term IS NULL THEN 1 ELSE 0 END AS rem_
        |  FROM oldp o FULL OUTER JOIN newp n
        |    ON o.doc_id = n.doc_id AND o.term = n.term),
        |g AS (
        |  SELECT doc_id, CAST(SUM(add_) AS BIGINT) AS n_added,
        |    CAST(SUM(rem_) AS BIGINT) AS n_removed
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_added, n_removed,
        |  CASE WHEN doc_id % 7 = 0 THEN 'deleted'
        |       WHEN doc_id % 5 = 0 THEN 'rewritten'
        |       ELSE 'edited' END AS status
        |FROM g WHERE n_added + n_removed > 0
        |ORDER BY doc_id""".stripMargin,
    // q256: the q255 chain + conjunctive-containment relevance
    // (doc ⊇ query terms) + per-query integer MRR/p@10/hits@50.
    "q256_retrieval_eval_multi" -> retrievalEvalMultiOracle,
    // q231: the q229 chain + tokens-per-word off the final state,
    // joined to per-source word counts.
    "q231_bpe_encode" -> bpeEncodeOracle,
    // q241: the q229 chain + tokens-per-word off the final state,
    // joined to per-LANG word counts; e3 fertility ratios.
    "q241_fertility" ->
      (bpeCtes(6) + """,
        |wsum AS (SELECT w, COUNT(*) AS n_syms FROM s6 GROUP BY w),
        |plng AS (
        |  SELECT lang, w, COUNT(*) AS cnt FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY lang, w),
        |agg AS (
        |  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
        |    CAST(SUM(cnt * length(w)) AS BIGINT) AS n_chars,
        |    CAST(SUM(cnt * COALESCE(n_syms, 0)) AS BIGINT) AS n_tokens
        |  FROM plng LEFT JOIN wsum USING (w) GROUP BY lang)
        |SELECT lang, n_words, n_tokens,
        |  CASE WHEN n_words > 0 THEN (n_tokens * 1000) // n_words
        |       ELSE 0 END AS tokens_per_word_e3,
        |  CASE WHEN n_tokens > 0 THEN (n_chars * 1000) // n_tokens
        |       ELSE 0 END AS chars_per_token_e3
        |FROM agg ORDER BY lang""".stripMargin),
    // q238: the q229 chain + one Σc total per round state (round 0 =
    // chars), ppm against the round-0 total.
    "q238_bpe_curve" ->
      (bpeCtes(6) + """,
        |tot AS (
        |  SELECT 0 AS r, CAST(SUM(c) AS BIGINT) AS t FROM s0
        |  UNION ALL SELECT 1, CAST(SUM(c) AS BIGINT) FROM s1
        |  UNION ALL SELECT 2, CAST(SUM(c) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, CAST(SUM(c) AS BIGINT) FROM s3
        |  UNION ALL SELECT 4, CAST(SUM(c) AS BIGINT) FROM s4
        |  UNION ALL SELECT 5, CAST(SUM(c) AS BIGINT) FROM s5
        |  UNION ALL SELECT 6, CAST(SUM(c) AS BIGINT) FROM s6),
        |c0 AS (SELECT t AS chars FROM tot WHERE r = 0)
        |SELECT CAST(r AS BIGINT) AS merge_round, t AS n_tokens,
        |  CASE WHEN chars > 0 THEN (t * 1000000) // chars
        |       ELSE 0 END AS compression_ppm
        |FROM tot, c0 ORDER BY merge_round""".stripMargin),
    // q145: same vocab-first collapse + lateral pair fan-out;
    // length/substr are codepoint-based in both engines, and the
    // length >= 2 guard runs before the series on both sides.
    "q145_bpe_pairs" ->
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w
        |    FROM documents) GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, c FROM (
        |    SELECT w, c,
        |      unnest(generate_series(1, length(w) - 1)) AS i
        |    FROM wc WHERE length(w) >= 2))
        |SELECT pair, CAST(SUM(c) AS BIGINT) AS weight
        |FROM pairs GROUP BY pair
        |ORDER BY weight DESC, pair LIMIT 20""".stripMargin,
    // q147: string_agg skips the rank > 5 NULLs exactly like Spark's
    // collect_list; ORDER BY doc_id inside the agg ≡ array_sort
    // (postings per token are distinct).
    "q147_inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT w, doc_id FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w, doc_id
        |    FROM documents)),
        |r AS (
        |  SELECT w, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id) AS rn
        |  FROM td)
        |SELECT w, COUNT(*) AS df, MIN(doc_id) AS min_doc,
        |  COALESCE(string_agg(
        |    CASE WHEN rn <= 5 THEN CAST(doc_id AS VARCHAR) END,
        |    ',' ORDER BY doc_id), '') AS postings
        |FROM r GROUP BY w ORDER BY w""".stripMargin,
    // q149: same bigram/unigram training counts and integer inverse
    // conditional probability; list indexing is 1-based in both
    // engines' formulations.
    "q149_bigram_surprisal" ->
      """WITH ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |bigr AS (
        |  SELECT doc_id, ws[CAST(i AS INTEGER)] AS wa,
        |    ws[CAST(i AS INTEGER) + 1] AS wb
        |  FROM (
        |    SELECT doc_id, ws,
        |      unnest(generate_series(1, len(ws) - 1)) AS i
        |    FROM ws WHERE len(ws) >= 2)),
        |uni AS (
        |  SELECT wa, COUNT(*) AS na FROM (
        |    SELECT unnest(ws) AS wa FROM ws) GROUP BY wa),
        |bc AS (
        |  SELECT wa, wb, COUNT(*) AS nab FROM bigr GROUP BY wa, wb),
        |scored AS (
        |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM((u.na * 1000000) // c.nab) AS BIGINT) AS surp_sum
        |  FROM bigr b JOIN bc c USING (wa, wb) JOIN uni u USING (wa)
        |  GROUP BY b.doc_id)
        |SELECT doc_id, n_bigrams, surp_sum,
        |  surp_sum // n_bigrams AS surp_mean
        |FROM scored ORDER BY surp_mean DESC, doc_id LIMIT 50""".stripMargin,
    // q138: same integer inverse-frequency fold; unnest ≡ explode over
    // the identical split, integer div both sides, (rarity desc,
    // doc_id) total order.
    "q138_rare_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnts AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts),
        |scored AS (
        |  SELECT t.doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(tot.total // c.cnt) AS BIGINT) AS surprisal
        |  FROM toks t JOIN cnts c USING (w) CROSS JOIN tot
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, surprisal,
        |  surprisal // n_tokens AS rarity
        |FROM scored ORDER BY rarity DESC, doc_id LIMIT 50""".stripMargin,
    // tx4 (round 7): the q95 polynomial folds replayed whole-document —
    // char fold base 31 mod P for content_hash, word-hash fold base 131
    // mod P for rolling_hash; list_reduce has no init so 0 is prepended.
    // An empty word (consecutive spaces) hashes to 0 on both engines
    // (Spark: ascii('') = 0 under the seed; DuckDB: empty range keeps
    // the prepended seed).
    "tx4_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, len(text) + 1),
        |      i -> CAST(ord(substr(text, i, 1)) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS content_hash,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '),
        |      wd -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, len(wd) + 1),
        |          i -> CAST(ord(substr(wd, i, 1)) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1000000007))),
        |    (acc, wh) -> (acc * 131 + wh) % 1000000007) AS rolling_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q95: same polynomial folds (char codes base 31 mod P, word
    // hashes base 131 mod P — list_reduce has no init, so 0 is
    // prepended), same hash·2²⁴+pos packing, same clamped 4-slices;
    // DuckDB list slicing a[i:j] is 1-based inclusive ≡ Spark
    // slice(a, i, 4).
    "q95_winnow" ->
      """WITH wsx AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |wh AS (
        |  SELECT doc_id, list_transform(ws, wd -> list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, len(wd) + 1),
        |          i -> CAST(ord(substr(wd, i, 1)) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000007)) AS whl
        |  FROM wsx),
        |keyed AS (
        |  SELECT doc_id, list_transform(range(1, len(whl) - 1),
        |    i -> ((((whl[i] % 1000000007) * 131 + whl[i + 1])
        |      % 1000000007) * 131 + whl[i + 2]) % 1000000007
        |      * 16777216 + i) AS kl
        |  FROM wh),
        |fp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(kl) - 3, 1) + 1),
        |    i -> list_min(kl[i:i + 3])))) AS key
        |  FROM keyed)
        |SELECT doc_id, key % 16777216 AS pos,
        |  key // 16777216 AS fp
        |FROM fp ORDER BY doc_id, pos""".stripMargin,
    "tx3_lang_id" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(the|and|of|to|is|in|that|with)\b')) AS s_en,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(der|die|das|und|ist|nicht|mit|ein)\b')) AS s_de,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(le|la|les|et|est|une|dans|pour)\b')) AS s_fr,
        |    len(regexp_extract_all(text,
        |      '(?i)\b(el|los|las|y|es|una|para|como)\b')) AS s_es
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS pred_lang
        |FROM scored ORDER BY doc_id""".stripMargin,
    "q31a_text_lang" ->
      """SELECT lang, COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q31b_text_tokens" ->
      """SELECT w, COUNT(*) AS c FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |GROUP BY w ORDER BY c DESC, w LIMIT 20""".stripMargin,
    // q57: the oracle states the SEMANTICS (all same-block pairs within
    // edit distance 2); the Spark side reaches the same set through the
    // lossless length-band prefilter.
    // q142: q57's pair predicate + the q33g recursive-closure
    // discipline — min reachable id per paired node ≡ the large-star/
    // small-star fixpoint.
    "q142_entity_clusters" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM customer a JOIN customer b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.c_custkey < b.c_custkey
        |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
        |nodes AS (
        |  SELECT DISTINCT id FROM (
        |    SELECT id_a AS id FROM pairs
        |    UNION ALL SELECT id_b FROM pairs)),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |reach(node, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, re.r FROM edges e JOIN reach re ON e.src = re.node)
        |SELECT node AS c_custkey, CAST(MIN(r) AS BIGINT) AS entity_id
        |FROM reach GROUP BY node ORDER BY c_custkey""".stripMargin,
    "q57_fuzzy_match" ->
      """SELECT CAST(a.c_nationkey AS BIGINT) AS nation,
        |  a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY nation, id_a, id_b""".stripMargin,
    // q59: tf/df/n_docs are exact integers; `//` is DuckDB's integer
    // division (Spark `div`). (score, term) is unique per doc, so the
    // row_number ranking is a total order (D1).
    "q59_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM terms GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df
        |          FROM terms GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf * ((n_docs * 10000) // df) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, CAST(score AS BIGINT) AS score,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    // q116: division-free threshold (cnt·400 > total) + integer-div
    // freq_bp — no IEEE ratio anywhere in the gate path.
    "q116_heavy_hitters" ->
      """WITH c AS (
        |  SELECT w, COUNT(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
        |SELECT w, cnt, (cnt * 10000) // total AS freq_bp
        |FROM c, tot WHERE cnt * 400 > total
        |ORDER BY cnt DESC, w""".stripMargin,
    // q79: COUNT FILTER ↔ count_if; DuckDB SUM(BIGINT) widens to
    // HUGEINT → CAST; `//` ↔ `div` exact integer division.
    "q79_vocab_stats" ->
      """WITH wc AS (
        |  SELECT source, w, COUNT(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY source, w)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  COUNT(*) AS n_types,
        |  COUNT(*) FILTER (WHERE c = 1) AS n_hapax,
        |  (COUNT(*) * 10000) // CAST(SUM(c) AS BIGINT) AS ttr_bp
        |FROM wc GROUP BY source ORDER BY source""".stripMargin,
    // q80: bigrams via 1-based array index + generate_series lateral;
    // the lift surrogate is the same two integer ops on both sides, so
    // the gate never compares an IEEE log. (lift_ppm, bigram) is a
    // total order (bigram unique after the group).
    "q80_collocations" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT w, COUNT(*) AS c FROM (
        |          SELECT unnest(ws) AS w FROM w) GROUP BY w),
        |bi AS (SELECT bg, COUNT(*) AS n_ab FROM (
        |         SELECT unnest(list_transform(range(1, len(ws)),
        |           i -> ws[i] || ' ' || ws[i+1])) AS bg
        |         FROM w WHERE len(ws) >= 2)
        |       GROUP BY bg HAVING COUNT(*) >= 5)
        |SELECT bg AS bigram, n_ab, ua.c AS n_a, ub.c AS n_b,
        |  (n_ab * 1000000) // (ua.c * ub.c) AS lift_ppm
        |FROM bi JOIN uni ua ON string_split(bg, ' ')[1] = ua.w
        |        JOIN uni ub ON string_split(bg, ' ')[2] = ub.w
        |ORDER BY lift_ppm DESC, bigram LIMIT 50""".stripMargin,
    "q56_top_ngrams" ->
      """SELECT ng, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |  SELECT UNNEST(list_transform(range(1, len(w)),
        |    i -> w[i] || ' ' || w[i+1])) AS ng
        |  FROM (SELECT string_split(text, ' ') AS w FROM documents)
        |  WHERE len(w) >= 2)
        |GROUP BY ng ORDER BY cnt DESC, ng LIMIT 20""".stripMargin,
    "q32_dedup_exact" ->
      """SELECT source, COUNT(*) AS n, COUNT(DISTINCT text) AS uniq
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q32b_dedup_rows" ->
      """SELECT COUNT(*) AS uniq_texts FROM (
        |  SELECT DISTINCT text FROM documents)""".stripMargin,
    "tx1_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "tx2_quality" ->
      """SELECT doc_id, LENGTH(text) AS chars,
        |  len(string_split(text, ' ')) AS words,
        |  (LENGTH(text) * 100) // len(string_split(text, ' ')) AS mean_wlen_c,
        |  len(regexp_extract_all(text,
        |    '\b(the|a|an|of|to|and|in|is|it)\b')) AS stops,
        |  (len(regexp_extract_all(text,
        |    '\b(the|a|an|of|to|and|in|is|it)\b')) * 10000) //
        |    len(string_split(text, ' ')) AS stop_bp
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
