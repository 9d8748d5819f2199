package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Scale-critical plan shapes, pinned: these are the properties that
  * decide whether a plan survives 100× data — filters reaching the
  * parquet scan, projection pruning the read schema, small sides
  * broadcast, no accidental cartesian products, hot paths inside
  * whole-stage codegen. A green result set with the wrong plan is a
  * regression these specs catch before a benchmark does.
  */
class PlanShapeSuite extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q6: filters push into the parquet scan; read schema is pruned") {
    val plan = formatted("q6_forecast_revenue")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual") || plan.contains("IsNotNull"), plan)
    // q6 touches 4 lineitem columns; the scan must not read all 16
    val readSchema = plan.linesIterator
      .find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q3: dimension sides broadcast, no shuffle of the small side") {
    val plan = formatted("q3_shipping_priority")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      plan)
  }

  test("q5: six-table join plans without a cartesian product") {
    val plan = formatted("q5_local_supplier")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q1: aggregation path stays inside whole-stage codegen") {
    // AQE finalizes the physical plan only at execution; run it first
    val df = graft.SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // '*' prefixes codegen'd operators in the executed-plan rendering
    assert(plan.contains("*(") && plan.contains("*(1)"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("HashAggregate")),
      s"aggregation not codegen'd:\n$plan")
  }

  test("ann_nprobe_curve: probe/query sides broadcast; corpus never sort-merges") {
    // The sweep's scale property: candidates come from an equi-join of
    // the corpus against the BROADCAST (query × probe-rank) table —
    // the corpus is never shuffled for the join, and each sweep point
    // filters the checkpointed candidate set instead of rescanning.
    val plan = formatted("ann_nprobe_curve")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle crept into the nprobe sweep:\n$plan")
  }

  test("ann_sq8 / ann_pq_adc: query side broadcasts; candidate corpus never sort-merges") {
    // The compression-curve searches scan the (decoded / coded) corpus
    // ONCE against a broadcast query table and reduce with the bounded
    // top-K aggregate — at 100× the corpus must not shuffle for the
    // scoring join, and no per-query window sort may appear.
    for (q <- Seq("ann_sq8", "ann_pq_adc")) {
      val plan = formatted(q)
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"$q: query side not broadcast\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q: corpus-side shuffle crept into the scoring join:\n$plan")
      assert(!plan.contains("Window"),
        s"$q: per-query window sort instead of bounded top-K:\n$plan")
    }
  }

  test("bpe_encode: the encode is one shuffle-free codegen'd projection") {
    // The merge table is learned in a separate tiny job; the ENCODE
    // pass itself must stay a per-row projection over documents — no
    // join, no shuffle, no explode (row counts in == out).
    val df = graft.SparkEntry.queries("bpe_encode")(spark, sfDir)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Join"), s"encode pass joins:\n$plan")
    assert(!plan.contains("Generate"), s"encode pass explodes:\n$plan")
    // exactly the one ordering exchange for the final orderBy, nothing else
    val exchanges = plan.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"unexpected shuffles in the encode pass:\n$plan")
  }

  test("q_range_join: banded non-equi join is the broadcast nested-loop, by design") {
    val plan = formatted("q_range_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
