package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** The Hilbert encoding must be a BIJECTION over the grid and must have
  * the defining unit-step property: walking the curve in index order
  * moves exactly one grid step per increment (Manhattan distance 1) —
  * the locality Morton's Z-jumps lack, and the entire reason to prefer
  * it for multi-column clustering.
  */
class HilbertIndexSuite extends AnyFunSuite with SharedSpark {

  private def grid(n: Int, b: Int): Seq[(Seq[Long], Long)] = {
    val side = 1 << b
    def points(dims: Int): Seq[Seq[Long]] =
      if (dims == 0) Seq(Seq.empty)
      else for (p <- points(dims - 1); v <- 0 until side) yield p :+ v.toLong
    points(n).map(p => p -> HilbertIndex.encode(p.toArray, b))
  }

  test("bijective over the full grid (2D x 4 bits, 3D x 3 bits)") {
    for ((n, b) <- Seq((2, 4), (3, 3))) {
      val g = grid(n, b)
      val total = 1L << (n * b)
      assert(g.size == total)
      val idx = g.map(_._2)
      assert(idx.distinct.size == g.size, s"collisions at n=$n b=$b")
      assert(idx.min == 0L && idx.max == total - 1, s"range hole at n=$n b=$b")
    }
  }

  test("unit-step: consecutive indexes are grid neighbors (Morton is not)") {
    for ((n, b) <- Seq((2, 4), (3, 3))) {
      val walk = grid(n, b).sortBy(_._2).map(_._1)
      walk.sliding(2).foreach { case Seq(a, c) =>
        val manhattan = a.zip(c).map { case (x, y) => math.abs(x - y) }.sum
        assert(manhattan == 1, s"jump of $manhattan between $a and $c (n=$n b=$b)")
      }
    }
    // contrast pin: Morton DOES jump (so the spec proves a real difference)
    val mortonWalk = (0 until 16).flatMap(x => (0 until 16).map(y =>
        (Seq(x.toLong, y.toLong),
          { var z = 0L; var i = 0
            while (i < 4) { z |= ((x >> i) & 1L) << (2 * i); z |= ((y >> i) & 1L) << (2 * i + 1); i += 1 }
            z })))
      .sortBy(_._2).map(_._1)
    val jumps = mortonWalk.sliding(2).count { case Seq(a, c) =>
      a.zip(c).map { case (x, y) => math.abs(x - y) }.sum > 1 }
    assert(jumps > 0, "Morton walk unexpectedly unit-step — contrast pin broken")
  }

  test("OPTIMIZE honors delta.clusteringStrategy = hilbert") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hilbert").toString
    val t = graft.delta.DeltaTable.forPath(spark, dir)
    t.write((0L until 256L).map(i => (i % 16, i / 16, i)).toDF("x", "y", "v"))
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES (" +
      "'delta.clusteringColumns' = 'x,y', 'delta.clusteringStrategy' = 'hilbert')")
    t.compact(Nil, None) // plain OPTIMIZE re-clusters along the declared curve
    assert(t.toDF.count() == 256)
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$dir` LIMIT 1").collect().head
    val params = hist.getMap[String, String](hist.fieldIndex("operationParameters"))
    assert(params.get("clusteringStrategy").contains("hilbert"), params.toString)
    // a bogus strategy is rejected at use
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES (" +
      "'delta.clusteringStrategy' = 'peano')")
    intercept[IllegalArgumentException](t.compact(Nil, None))
  }
}
