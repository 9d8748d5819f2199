package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** The HLL sketch aggregate's contract: partition-layout invariance
  * (register-wise max merges associatively, so the estimate cannot
  * depend on how rows were split across tasks), accuracy within the
  * standard-error envelope, and the exact hash→register arithmetic the
  * DuckDB oracle replicates.
  */
class HllSketchSuite extends AnyFunSuite with SharedSpark {

  test("estimate is partition-invariant and within HLL error bounds") {
    import spark.implicits._
    val n = 5000
    val df = (1 to n).map(_.toLong).toDF("v")
    def est(parts: Int): (Double, Long) = {
      val r = df.repartition(parts)
        .agg(SketchExpressions.hllSketch($"v").as("h"))
        .select($"h.estimate", $"h.n_empty_regs").head()
      (r.getDouble(0), r.getLong(1))
    }
    val (e1, z1) = est(1)
    val (e8, z8) = est(8)
    val (e32, z32) = est(32)
    assert(e1 == e8 && e8 == e32, s"layout-dependent estimate: $e1 $e8 $e32")
    assert(z1 == z8 && z8 == z32)
    // standard error for m=256 is ~1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(e1 - n) / n < 0.20, s"estimate $e1 for true $n")
  }

  test("duplicates do not move the estimate") {
    import spark.implicits._
    val base = (1 to 1000).map(_.toLong).toDF("v")
    val dup = base.union(base).union(base)
    val e1 = base.agg(SketchExpressions.hllSketch($"v")).head().getStruct(0).getDouble(0)
    val e3 = dup.agg(SketchExpressions.hllSketch($"v")).head().getStruct(0).getDouble(0)
    assert(e1 == e3)
  }

  test("hash60 matches the oracle's md5 arithmetic") {
    // CAST(('0x'||substr(md5('42'),1,15)) AS BIGINT) in DuckDB
    val h = HllSketchAgg.hash60("42")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(h == java.lang.Long.parseLong(hex.take(15), 16))
    assert(h >= 0 && h < (1L << 60))
  }
}
