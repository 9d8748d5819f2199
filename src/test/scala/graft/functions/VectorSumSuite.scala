package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** LongVectorSumAgg must be partitioning-invariant (element-wise integer
  * addition merges associatively across any split) and MomentVector must
  * emit exactly u ++ strict-upper-triangle products in (i,j) order.
  */
class VectorSumSuite extends AnyFunSuite with SharedSpark {

  test("vector sum is identical at 1 and 7 partitions") {
    import spark.implicits._
    val rows = (0 until 100).map(i => Array(i.toLong, (i * 3).toLong, 7L))
    def sumAt(parts: Int): Seq[Long] =
      spark.createDataset(rows).repartition(parts)
        .select(LongVectorSumAgg(col("value"), 3).as("v"))
        .head().getSeq[Long](0)
    val one = sumAt(1)
    assert(one == Seq(4950L, 14850L, 700L))
    assert(sumAt(7) == one)
  }

  test("MomentVector layout: u values then (i,j) row-major strict upper triangle") {
    val e = Array(1.5, -2.0, 0.25)
    val expr = MomentVector(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        e, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = false)), 3)
    val out = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
    val u = Seq(1500000L, -2000000L, 250000L)
    assert(out.toSeq == u ++ Seq(
      u(0) * u(1), u(0) * u(2), // i=0 row
      u(1) * u(2)))             // i=1 row
  }
}
