package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Plan-shape guarantees for hybrid_retrieval's lexical leg: every join
  * that touches the full token stream must be broadcast-side (the
  * query-term semi-restriction, the df attach, the corpus count) — a
  * plan flip to a shuffle join on the vocab-sized df was the one
  * vocab-scale shuffle left in the query and must not reappear.
  */
class HybridRetrievalPlanSuite extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("df attach is broadcast; no vocab-sized shuffle join remains") {
    val df = graft.SparkEntry.queries("hybrid_retrieval")(spark, sfDir)
    val physical = df.queryExecution.executedPlan.toString
    // the candidate join, the df attach and the corpus scalar all ride
    // broadcast exchanges; the only SortMergeJoin allowed is the final
    // full-outer rank fusion (full_outer can't broadcast)
    val smj = physical.linesIterator.count(_.contains("SortMergeJoin"))
    val bhj = physical.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 3,
      s"expected broadcast joins for qtok/df/corpus attach, got $bhj:\n$physical")
    assert(smj <= 1,
      s"only the full-outer fusion may sort-merge, got $smj:\n$physical")
    // and the result itself stays correct at this scale
    val rows = df.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 5), "top-5 per query")
    byQ.values.foreach { rs =>
      val ranks = rs.map(_.getLong(1)).sorted
      assert(ranks.sameElements(1L to ranks.length), "dense ranks from 1")
    }
  }
}
