package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Connected-components correctness under adversarial topology.
  *
  * The r8 verdict flagged that min-label propagation capped at 20
  * iterations silently mislabels any duplicate chain with component
  * diameter > 20 (templated spam / boilerplate chains are real in web
  * corpora). `Dedup.connectedComponents` now uses large-star/small-star
  * contraction, which converges in O(log n) rounds regardless of
  * diameter — these specs pin that down with a 64-doc chain (diameter
  * 63, triple the old cap) plus mixed-shape component sets.
  */
class DedupClusterSuite extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("64-doc duplicate chain (diameter 63) collapses to one cluster") {
    // doc i is a near-dup of doc i+1 only: a pure path, the worst case
    // for propagation-style CC. 63 hops > the old 20-iteration cap.
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.keySet == (0L to 63L).toSet)
    assert(got.values.toSet == Set(0L), s"expected a single cluster rooted at 0, got ${got.values.toSet}")
  }

  test("mixed components: chain + star + triangle + pair keep separate labels") {
    val chain = (100L until 130L).map(i => (i, i + 1)) // diameter 30
    val star = (1L to 5L).map(i => (0L, i))
    val triangle = Seq((200L, 201L), (201L, 202L), (202L, 200L))
    val pair = Seq((300L, 301L))
    val got = components(chain ++ star ++ triangle ++ pair)
    assert((100L to 130L).forall(got(_) == 100L))
    assert((0L to 5L).forall(got(_) == 0L))
    assert(Seq(200L, 201L, 202L).forall(got(_) == 200L))
    assert(Seq(300L, 301L).forall(got(_) == 300L))
  }

  test("edge orientation and duplicate edges do not change the labeling") {
    // reversed edges, self-referencing duplicates, and both directions
    val messy = Seq((5L, 4L), (4L, 5L), (3L, 4L), (5L, 6L), (6L, 5L), (3L, 4L))
    val got = components(messy)
    assert(got == Map(3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("dedup_cluster end-to-end stays correct on sf0.001") {
    val q = Dedup.queries.find(_.name == "dedup_cluster").get
    val out = q.fn(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Boolean)].collect()
    assert(out.nonEmpty)
    // every cluster id is the min doc id of its members, canonical iff min
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid)
      members.foreach { case (doc, _, canon) => assert(canon == (doc == cid)) }
    }
  }
}
