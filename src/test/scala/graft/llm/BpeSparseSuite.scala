package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BpeCoder, BpePairVector, BpeTokenCount}
import graft.testutil.SharedSpark

/** Production-vocab BPE (C68): the dict-based incremental trainer and
  * the rank-based encode expression. The load-bearing property is
  * EQUIVALENCE — wherever both are defined (K <= 1024), bpeLearnSparse
  * must produce merge-for-merge the chain bpeLearn derives from full
  * corpus recounts, because symbol ids are codepoints and the heap
  * tie-break (count desc, packed pair asc) is the pair-string order.
  * The shared `bpe_sparse_encode` oracle pins the same at K=24 against
  * DuckDB; here we pin it on adversarial synthetic corpora and then
  * train K=4096 — the regime no dense pair vector can reach.
  */
class BpeSparseSuite extends AnyFunSuite with SharedSpark {

  /** Render an int-symbol merge pair as the dense trainer's 2-char
    * string — valid while every id fits in a BMP char (K <= 1024 keeps
    * merge ids at 192+r, identical to the chr block).
    */
  private def asPairString(m: (Int, Int)): String =
    "" + m._1.toChar + m._2.toChar

  test("sparse trainer == dense trainer, merge for merge (k=64)") {
    import spark.implicits._
    val basePairs = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "qr", "st")
    val docs = basePairs.zipWithIndex
      .map { case (p, i) => (i.toLong, p * 64) }
      .toDF("doc_id", "text").persist()
    val dense = Corpus.bpeLearn(docs, 64)
    val sparse = Corpus.bpeLearnSparse(docs, 64).map(asPairString)
    docs.unpersist()
    assert(sparse == dense, s"\nsparse: $sparse\ndense:  $dense")
  }

  test("sparse trainer == dense trainer on a seeded random corpus (k=48)") {
    import spark.implicits._
    // organic tie-break pressure: many equal-count pairs, word reuse,
    // digits (whose codepoints sort before letters in the pair-string
    // order — the case a wrong id mapping would break)
    val rnd = new scala.util.Random(421)
    val alpha = "abcde01"
    val docs = (0 until 400).map { i =>
      val w = (0 until (2 + rnd.nextInt(6)))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      (i.toLong, s"$w ${alpha(rnd.nextInt(alpha.length))}$w")
    }.toDF("doc_id", "text").persist()
    val dense = Corpus.bpeLearn(docs, 48)
    val sparse = Corpus.bpeLearnSparse(docs, 48).map(asPairString)
    docs.unpersist()
    assert(sparse == dense, s"\nsparse: $sparse\ndense:  $dense")
  }

  test("k=4096: trains past any dense-vector cap; merges valid; round-trips") {
    import spark.implicits._
    // every [a-z0-9]² base pair repeated 64 times: each word's halving
    // chain offers ~7 productive merges -> ~9k total, enough for 4096
    val basePairs = for (a <- "abcdefghijklmnopqrstuvwxyz0123456789";
                         b <- "abcdefghijklmnopqrstuvwxyz0123456789")
      yield s"$a$b"
    val docs = basePairs.zipWithIndex
      .map { case (p, i) => (i.toLong, p.toString * 64) }
      .toDF("doc_id", "text").persist()
    val merges = Corpus.bpeLearnSparse(docs, 4096)
    assert(merges.length == 4096, s"got ${merges.length} merges")
    assert(merges.distinct.length == 4096, "merges must be distinct")
    // every merge references only base symbols or EARLIER merge ids
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      def ok(id: Int) =
        (id >= '0' && id <= '9') || (id >= 'a' && id <= 'z') ||
          (id >= BpeCoder.MergeBase && id < BpeCoder.MergeBase + r)
      assert(ok(a) && ok(b), s"merge $r = ($a,$b) references an invalid symbol")
    }
    // the tail of the chain lies past the dense trainer's MaxK block
    assert(merges.zipWithIndex.exists { case ((a, b), _) =>
      a >= BpeCoder.MergeBase + BpePairVector.MaxK ||
        b >= BpeCoder.MergeBase + BpePairVector.MaxK
    }, s"no merge pairs a symbol past rank ${BpePairVector.MaxK}")
    // rank-based encode round-trips: expanding every token reproduces
    // the word exactly
    val rank = BpeCoder.rankMap(merges)
    Seq("ab" * 64, "z9" * 64, "ab", "q", "07" * 33).foreach { w =>
      val cps = w.toCharArray.map(_.toInt)
      val enc = BpeCoder.encode(cps, rank)
      val back = enc.map(BpeCoder.tokenString(_, merges)).mkString
      assert(back == w, s"round trip broke: '$w' -> '$back'")
    }
    // and compresses the training corpus hard: each 128-char word
    // collapses to a handful of tokens
    val rawChars = basePairs.length * 128L
    val tokens = docs.select(org.apache.spark.sql.GraftShims.column(
        BpeTokenCount(org.apache.spark.sql.GraftShims.expression($"text"), merges)))
      .as[Long].collect().sum
    docs.unpersist()
    assert(tokens * 16 < rawChars,
      s"encoded $tokens tokens vs $rawChars chars: expected >16x compression")
  }

  test("BpeTokenCount matches the replace-chain encode (k=3)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((0L, "ababab ababab"), (1L, "abab xyz"), (2L, "??!!"))
      .toDF("doc_id", "text").persist()
    val merges = Corpus.bpeLearnSparse(docs, 3)
    // same chain the dense path applies: each 'ababab' word -> 1 token
    val chained = merges.map(asPairString).zipWithIndex
      .foldLeft(lower(col("text"))) { case (c, (p, i)) =>
        call_function("replace", c, lit(p),
          lit(BpePairVector.mergeSymbol(i).toString))
      }
    val viaReplace = docs
      .select($"doc_id", aggregate(
        org.apache.spark.sql.functions.transform(
          regexp_extract_all(chained, lit("[^ ?!]+"), lit(0)), w => length(w)),
        lit(0L), (a, x) => a + x).as("n"))
      .orderBy($"doc_id").as[(Long, Long)].collect()
    val viaExpr = docs
      .select($"doc_id", org.apache.spark.sql.GraftShims.column(
        BpeTokenCount(org.apache.spark.sql.GraftShims.expression($"text"), merges)).as("n"))
      .orderBy($"doc_id").as[(Long, Long)].collect()
    docs.unpersist()
    assert(viaExpr.toSeq == viaReplace.toSeq,
      s"\nexpr:    ${viaExpr.toSeq}\nreplace: ${viaReplace.toSeq}")
    assert(viaExpr.find(_._1 == 2L).exists(_._2 == 0L), "no-token doc counts 0")
  }

  test("minFreq truncates the dict: rare words contribute no pairs") {
    import spark.implicits._
    // 'zq' appears once — at minFreq=2 its pair must never be merged,
    // while the untruncated dict merges it right after (a,b)
    val docs = Seq((0L, "zq"), (1L, "ab ab"), (2L, "ab")).toDF("doc_id", "text")
    val all = Corpus.bpeLearnSparse(docs, 2, minFreq = 1L).map(asPairString)
    val cut = Corpus.bpeLearnSparse(docs, 2, minFreq = 2L).map(asPairString)
    assert(all.contains("zq"), all.toString)
    assert(cut == Seq("ab"), cut.toString)
  }

  test("dict past spark.graft.bpe.maxDictWords refuses loudly") {
    import spark.implicits._
    val docs = Seq((0L, "aa bb cc dd ee")).toDF("doc_id", "text")
    spark.conf.set("spark.graft.bpe.maxDictWords", "3")
    try {
      val e = intercept[IllegalArgumentException](
        Corpus.bpeLearnSparse(docs, 4))
      assert(e.getMessage.contains("maxDictWords"), e.getMessage)
      assert(e.getMessage.contains("minFreq"), e.getMessage)
    } finally spark.conf.unset("spark.graft.bpe.maxDictWords")
    // and the same corpus trains fine once minFreq or the cap admits it
    assert(Corpus.bpeLearnSparse(docs, 4).nonEmpty)
  }

  test("a dict exactly AT the cap trains, reproducibly") {
    import spark.implicits._
    // 5 distinct words at cap 5: the order-stable probe must admit all
    // of them on every plan, never refuse because an unordered limit
    // window happened to cut differently
    val docs = Seq((0L, "aa bb cc dd ee"), (1L, "aa bb")).toDF("doc_id", "text")
      .repartition(4)
    spark.conf.set("spark.graft.bpe.maxDictWords", "5")
    try {
      val runs = (1 to 3).map(_ => Corpus.bpeLearnSparse(docs, 3))
      assert(runs.forall(_ == runs.head), runs.toString)
      assert(runs.head.nonEmpty)
    } finally spark.conf.unset("spark.graft.bpe.maxDictWords")
  }
}
