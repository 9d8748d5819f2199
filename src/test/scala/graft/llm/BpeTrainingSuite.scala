package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BpePairVector
import graft.testutil.SharedSpark

/** Iterative BPE training (C64's learn loop): each round RECOUNTS pairs
  * after the merges so far — the property a single-pass top-K cannot
  * have, because a merge changes the pair distribution and creates
  * pairs (with merged symbols) round 1 never saw. Merge symbols are a
  * contiguous BMP block from 0xC0 ('À'…, past 0xFF into 'Ā'…), capped
  * only where the dense pair-count vector stays buffer-sane (K<=1024).
  */
class BpeTrainingSuite extends AnyFunSuite with SharedSpark {

  private val S0 = BpePairVector.mergeSymbol(0) // 'À'
  private val S1 = BpePairVector.mergeSymbol(1) // 'Á'

  test("round-2 counts differ from round-1: merges include merged-symbol pairs") {
    import spark.implicits._
    // 'ababab': round 1 counts ab:3, ba:2 per word — a single-pass top-3
    // would stop at {ab, ba}. Iterative training merges ab→À, then the
    // REWRITTEN corpus 'ÀÀÀ' offers ÀÀ (unseen in round 1), then 'ÁÀ'.
    val docs = Seq((0L, "ababab ababab"), (1L, "ababab")).toDF("doc_id", "text")
    val merges = Corpus.bpeLearn(docs, 3)
    assert(merges == Seq("ab", s"$S0$S0", s"$S1$S0"), merges.toString)
    // the single-pass statistic over round-1 counts cannot produce ÀÀ
    assert(!Seq("ab", "ba").contains(merges(1)),
      "second merge must come from the RECOUNTED corpus, not round-1 counts")
  }

  test("training stops when the corpus runs out of pairs") {
    import spark.implicits._
    // after ab→À, ÀÀ→Á, ÁÀ→Â every word is the single symbol 'Â' —
    // round 4 has zero pairs and the loop must stop, not loop to k
    val docs = Seq((0L, "ababab")).toDF("doc_id", "text")
    val merges = Corpus.bpeLearn(docs, 10)
    assert(merges == Seq("ab", s"$S0$S0", s"$S1$S0"), merges.toString)
  }

  test("greedy replace chain encodes to the expected token counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((0L, "ababab ababab")).toDF("doc_id", "text")
    val merges = Corpus.bpeLearn(docs, 3)
    // apply the same chain the query uses: each word collapses to 'Â'
    val chained = merges.zipWithIndex.foldLeft(lower(col("text"))) {
      case (c, (p, i)) =>
        call_function("replace", c, lit(p),
          lit(BpePairVector.mergeSymbol(i).toString))
    }
    val out = docs.select(chained.as("t")).collect().head.getString(0)
    assert(out == s"${BpePairVector.mergeSymbol(2)} ${BpePairVector.mergeSymbol(2)}", out)
  }

  test("k=64: training runs the full merge block, pairing merged symbols") {
    import spark.implicits._
    // ten words, each a distinct base pair repeated 64 times: collapsing
    // one such word costs ~7 merges (pair→À, then the ÀÀ / ÁÁ / …
    // halving chain), so the corpus offers ~70 productive merges — rounds
    // past 36 can only pair symbols that already contain merges
    val basePairs = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op", "qr", "st")
    val docs = basePairs.zipWithIndex
      .map { case (p, i) => (i.toLong, p * 64) }
      .toDF("doc_id", "text")
    val merges = Corpus.bpeLearn(docs, 64)
    assert(merges.length == 64, s"got ${merges.length} merges")
    assert(merges.distinct.length == 64, "merges must be distinct")
    assert(merges.exists(_.exists(_ >= BpePairVector.mergeSymbol(0))),
      "later merges must pair merged symbols (the grown alphabet)")
    // merges 16+ exist and index the pair vector without overflow — the
    // exact regime the old 16-cap (and the unguarded 52-cell vector)
    // could not reach
    assert(merges.drop(16).nonEmpty)
  }

  test("BpePairVector refuses a merge chain past the dense-vector cap") {
    val over = (0 to BpePairVector.MaxK).map(i => s"x$i")
    val e = intercept[IllegalArgumentException](
      BpePairVector(org.apache.spark.sql.catalyst.expressions.Literal("x"), over))
    assert(e.getMessage.contains(s"at most ${BpePairVector.MaxK}"), e.getMessage)
  }

  test("k=256: training runs past the old 64-symbol block") {
    import spark.implicits._
    // 40 words, each a distinct base pair repeated 64 times: collapsing
    // one word costs ~7 merges (pair→symbol, then the halving chain), so
    // the corpus offers ~280 productive merges — enough for 256 rounds,
    // whose later merge symbols lie past U+00FF (the old block's end)
    val basePairs = for (a <- "abcdefghij"; b <- "0123") yield s"$a$b"
    val docs = basePairs.zipWithIndex
      .map { case (p, i) => (i.toLong, p * 64) }
      .toDF("doc_id", "text").persist()
    val merges = Corpus.bpeLearn(docs, 256)
    assert(merges.length == 256, s"got ${merges.length} merges")
    assert(merges.distinct.length == 256, "merges must be distinct")
    // merges past round 64 pair symbols the 0xC0..0xFF block could not
    // express — the regime the old MaxK=64 refused outright
    assert(merges.exists(_.exists(_ > 0xff.toChar)),
      "later merges must contain symbols past U+00FF")
    // the trained chain actually compresses: every replace is a real
    // merge over the grown alphabet
    import org.apache.spark.sql.functions._
    val chained = merges.zipWithIndex.foldLeft(lower(col("text"))) {
      case (c, (p, i)) =>
        call_function("replace", c, lit(p),
          lit(BpePairVector.mergeSymbol(i).toString))
    }
    val (raw, enc) = docs.select(
      sum(length(col("text"))), sum(length(chained)))
      .as[(Long, Long)].collect().head
    docs.unpersist()
    assert(enc * 16 < raw, s"encoded $enc vs raw $raw: expected >16x compression")
  }
}
