package graft

import graft.operators.{Dedup, Graph, Memos}

/** Memo registry contract (advice r7): memoized frames are reused
  * within a session (same checkpointed plan instance), and clearAll
  * drops the references so a long-running multi-tenant session can
  * release the per-dir checkpoint blocks. */
class MemoSpec extends SparkSpecBase {

  test("memoized frames are reused until clearAll, then recompute") {
    val a = Dedup.exactPairs(spark, sf)
    val b = Dedup.exactPairs(spark, sf)
    assert(a eq b) // same checkpointed instance — no recomputation
    val g1 = Graph.lpa25(spark, sf)
    Memos.clearAll()
    val c = Dedup.exactPairs(spark, sf)
    assert(!(a eq c), "cleared memo must rebuild a fresh frame")
    val g2 = Graph.lpa25(spark, sf)
    assert(!(g1 eq g2))
    // and the rebuilt frames carry identical results
    assert(c.collect().map(_.toString).sorted
      .sameElements(a.collect().map(_.toString).sorted))
  }

  test("builders registry names every memo once, every build runs " +
      "green, and clearAll covers the q57/q142 fuzzy pair memo " +
      "(round-8 verdict item 4)") {
    val names = Memos.builders.map(_._1)
    assert(names.distinct == names, "duplicate builder names")
    // 22 since round 18 (+memo:crosscorpus_index — the q137
    // existing-side postings index, verdict r17 item 5); 21 in round
    // 17 (+memo:resid_shortlist, +memo:pr_rounds25,
    // +memo:derived_corpus, +memo:quality_scored — state that was
    // rebuilt by every consumer per pass now builds once)
    assert(names.size == 22, s"builder census drifted: $names")
    assert(names.forall(_.startsWith("memo:")))
    val f1 = graft.operators.TextOps.fuzzyPairs(spark, sf)
    Memos.clearAll()
    val f2 = graft.operators.TextOps.fuzzyPairs(spark, sf)
    assert(!(f1 eq f2), "clearAll must drop the fuzzy pair memo")
    // The list order is a build order: from a cleared registry,
    // building entry i populates no line item listed after it.
    Memos.clearAll()
    Memos.builders.zipWithIndex.foreach { case ((name, b), i) =>
      b(spark, sf)
      val ahead = Memos.lineItems.drop(i + 1).filterNot(_.isEmpty)
        .map(_.label)
      assert(ahead.isEmpty, s"building $name populated later line " +
        s"items $ahead")
    }
    // clearAll reaches every registered memo, including the unigram
    // edge head that is not a line item
    Memos.clearAll()
    val registered = graft.operators.Memo.registered
    assert(registered.exists(_.name == "uni_edges"))
    val held = registered.filterNot(_.isEmpty).map(_.name)
    assert(held.isEmpty, s"clearAll left memos populated: $held")
  }
}
