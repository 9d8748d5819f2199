package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Value-based decile invariants for quality_deciles: the histogram-CDF
  * bucketing must behave like a deterministic ntile — buckets ordered,
  * score ranges non-overlapping, every document in exactly one bucket —
  * while guaranteeing what ntile cannot: equal scores never straddle a
  * boundary, so the split is independent of row order and parallelism.
  */
class QualityDecilesSuite extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  test("deciles are ordered, non-overlapping, and exhaustive") {
    val rows = graft.SparkEntry.queries("quality_deciles")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // decile ids ascending in 1..10
    val ids = rows.map(_._1)
    assert(ids.sameElements(ids.sorted) && ids.head >= 1 && ids.last <= 10)
    // score ranges strictly separated: max(d) < min(d+1) — equal scores
    // can never sit in two buckets
    rows.sliding(2).foreach {
      case Array((_, _, _, hi), (_, _, lo, _)) => assert(hi < lo)
      case _ =>
    }
    // every document lands in exactly one bucket
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.map(_._2).sum == nDocs)
  }
}
