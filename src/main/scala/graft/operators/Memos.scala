package graft.operators

import org.apache.spark.sql.SparkSession

/** The session-lifetime memo layer: one [[Memo]] per shared pipeline
  * (exact/LSH pair sets in Dedup, co-supply edges, LPA labels and
  * basket co-counts in Graph, tokenizer and quantizer state in TextOps
  * and Similarity, the quantile sketch in Percentiles), each holding
  * its localCheckpoint'ed result per (SparkSession, dir), so one
  * Verify/Bench run computes each shared pipeline once.
  *
  * [[lineItems]] is the ONE hand-kept list: every memo that is a bench
  * line item, in dependency order. [[builders]] and the `graft.Plans`
  * build-stage dumps (each memo's optional `planFrames`) are derived
  * from it; [[clearAll]] walks the self-registered memos instead, so a
  * memo that is not a line item (TextOps.uniEdges, the head both
  * tokenizer memos share) is still cleared.
  *
  * The memos are never evicted during a run (the blocks are small:
  * verified pairs, 25-node labels), but a LONG-RUNNING session that
  * processes many data directories accumulates one entry set per dir.
  * `clearAll()` drops every reference; the checkpointed RDDs then
  * become eligible for ContextCleaner reclamation on the next GC cycle
  * (checkpoint cleanup is reference-triggered — there is nothing to
  * unpersist explicitly for localCheckpoint leaves). Call it between
  * tenants/directories in a resident service; MemoSpec pins that a
  * cleared memo recomputes. */
object Memos {

  /** Drop every memoized frame across the operator library. */
  def clearAll(): Unit = Memo.registered.foreach(_.clear())

  /** Every bench line-item memo, in dependency order: a memo is listed
    * after every memo its build reads (lpa25 after co_edges25, the pq
    * chain after kmeans_cells), so timing them in this order attributes
    * each layer's cost to its own line and pre-building the prefix
    * before entry i leaves entry i only its own work (MemoSpec pins
    * the order). derived_corpus comes FIRST: every Dedup/TextOps
    * consumer of the docs+twins corpus reads it. */
  private[graft] def lineItems: Seq[Memo[_]] = Seq(
    Dedup.derivedCorpus,
    Dedup.exactPairs,
    Dedup.lshPairs,
    Graph.coEdges25,
    Graph.lpa25,
    Graph.basketCo,
    TextOps.fuzzyPairs,
    TextOps.bpeState6,
    Dedup.dedupComponents,
    Dedup.crossIndex,
    Dedup.qualityScoredCorpus,
    Similarity.kmeansShared83,
    Similarity.pqShared168,
    Similarity.pqResShared,
    Similarity.pqRefShared,
    Similarity.residShortlist50,
    Similarity.hybridMultiRankings,
    Percentiles.qsketchState,
    TextOps.uniState,
    TextOps.wpState,
    Graph.louvain2State,
    Graph.prRounds25)

  /** The line items as named builds (`memo:<name>`). Each build forces
    * materialization (the memos end in an EAGER localCheckpoint). Bench
    * times these as first-class `memo:*` entries before the query loop
    * (round-8 verdict item 4: the first consumer of a memoized frame
    * used to absorb its build, so per-query numbers meant different
    * things depending on suite order). */
  def builders: Seq[(String, (SparkSession, String) => Unit)] =
    lineItems.map(m => m.label ->
      ((s: SparkSession, d: String) => { m(s, d); () }))
}
