package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{GraftShims => GS}
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Direct behavior checks of the custom Catalyst expressions against
  * their builtin (interpreted HOF) formulations — the custom versions
  * must be drop-in value-identical, only faster.
  */
class ExpressionsSuite extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  test("WordShingles equals the HOF shingle formulation") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog",
      "a b", // fewer than n tokens -> empty
      "Tabs\tand   punct!! mixed-case TEXT with numbers 42 and 42",
      "dup dup dup dup dup" // repeated shingles -> distinct
    ).toDF("text")
    val custom = df.select(
      GS.column(WordShingles(GS.expression($"text"), 3)).as("sh"))
    val viaHof = df.select(
      graft.queries.QueryDefs.shingles3(graft.queries.QueryDefs.tokens($"text")).as("sh"))
    val a = custom.collect().map(_.getSeq[String](0).toSet)
    val b = viaHof.collect().map(_.getSeq[String](0).toSet)
    assert(a.toSeq == b.toSeq)
    assert(a(1).isEmpty)
    assert(a(3) == Set("dup dup dup"))
  }

  test("MinHashSig equals the md5/universal-hash SQL formulation") {
    val ab = Seq((3L, 7L), (5L, 11L))
    val p = 1073741789L
    val df = Seq(Seq("alpha beta gamma", "delta epsilon zeta")).toDF("sh")
    val custom = df.select(
      GS.column(MinHashSig(GS.expression($"sh"), ab, p)).as("sig"))
      .head().getSeq[Long](0)
    // reference computation in plain scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def v30(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1073741824L
    }
    val vs = Seq("alpha beta gamma", "delta epsilon zeta").map(v30)
    val expect = ab.map { case (a, b) => vs.map(v => (a * v + b) % p).min }
    assert(custom.toSeq == expect)
  }

  test("SimHash60: near-identical token lists have small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i")
    val similar = base.updated(0, "changed")
    val different = (1 to 60).map(i => s"other$i")
    val df = Seq(base, similar, different).toDF("t")
    val hs = df.select(GS.column(SimHash60(GS.expression($"t"))).as("h"))
      .collect().map(_.getLong(0))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hs(0) >= 0 && (hs(0) >> 60) == 0, "60-bit value stays positive")
    assert(hamming(hs(0), hs(1)) < hamming(hs(0), hs(2)),
      s"similar docs must be closer: ${hamming(hs(0), hs(1))} vs ${hamming(hs(0), hs(2))}")
  }

  test("TopKByScore matches the window-ranking formulation exactly") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map(i =>
      (i % 7L, math.floor(rnd.nextDouble() * 20) / 20, i.toLong)) // forced ties
    val df = rows.toDF("g", "score", "id").repartition(8)
    val viaAgg = df.groupBy($"g")
      .agg(TopKExpressions.topKByScore($"score", $"id", 5).as("top"))
      .select($"g", posexplode($"top"))
      .select($"g", ($"pos" + 1).as("rank"), $"col.id".as("id"), $"col.score".as("score"))
    val w = Window.partitionBy($"g").orderBy($"score".desc, $"id")
    val viaWindow = df.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5).select($"g", $"rank", $"id", $"score")
    assert(viaAgg.orderBy("g", "rank").collect().toSeq ==
      viaWindow.orderBy("g", "rank").collect().toSeq)
    // the plan carries a partial aggregate below the shuffle (the point)
    val plan = viaAgg.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"expected an aggregate-based plan, got:\n$plan")
  }

  test("ArrayIntersectCount equals size(filter(contains))") {
    val df = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq.empty[String], Seq("x")),
      (Seq("a"), Seq.empty[String]),
      (Seq("a", "b"), Seq("a", "b"))).toDF("l", "r")
    val both = df.select(
      GS.column(ArrayIntersectCount(GS.expression($"l"), GS.expression($"r"))).as("fast"),
      size(filter($"l", x => array_contains($"r", x))).as("slow"))
    both.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }
}
