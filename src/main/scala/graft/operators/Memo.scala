package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One memoized build per (SparkSession, dir): `apply` runs `build` on
  * the first call for a key and returns the held value afterwards, so
  * `Dedup.exactPairs(spark, dir)` reads like the function it replaces.
  * Builds materialize their frames (eager localCheckpoints), so a held
  * value reads as checkpointed leaves.
  *
  * Each memo keeps its OWN map: memos nest (louvain2_state reads
  * co_edges25, pq_ref_state reads pq_res_state reads kmeans_cells), and
  * a build that fills another memo while its own key is pending needs
  * the map that `TrieMap.getOrElseUpdate` gives — the build runs
  * outside any lock, unlike a shared `ConcurrentHashMap.computeIfAbsent`,
  * which rejects such recursive updates.
  *
  * Every memo registers itself on construction, so [[Memos.clearAll]]
  * reaches it without a hand-kept list. `planFrames`, when present,
  * gives the LAZY pre-checkpoint build stages for `graft.Plans` dumps
  * (the eager checkpoint hides the build behind a leaf). */
final class Memo[T] private (val name: String,
    val planFrames: Option[(SparkSession, String) => Seq[(String, DataFrame)]],
    build: (SparkSession, String) => T) {

  private val held =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), T]

  /** The bench line-item name, `memo:<name>`. */
  def label: String = s"memo:$name"

  Memo.registry.add(this)

  def apply(spark: SparkSession, dir: String): T =
    held.getOrElseUpdate((spark, dir), build(spark, dir))

  def isEmpty: Boolean = held.isEmpty

  private[operators] def clear(): Unit = held.clear()
}

object Memo {

  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[Memo[_]]()

  def apply[T](name: String,
      planFrames: Option[(SparkSession, String) =>
        Seq[(String, DataFrame)]] = None)
      (build: (SparkSession, String) => T): Memo[T] =
    new Memo(name, planFrames, build)

  /** Every memo constructed so far (an operator object's memos exist
    * once that object is initialized; before that they hold nothing). */
  def registered: Seq[Memo[_]] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toSeq
  }
}
