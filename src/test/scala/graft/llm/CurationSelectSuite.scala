package graft.llm

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Hand-computed pins for the round-11 curation selectors, independent of
  * the DuckDB oracle gate: surprisal_filter's bigram-LM arithmetic on a
  * 3-doc corpus small enough to verify on paper, and dsir_select's
  * target-share weighting separating on-target from off-target tokens.
  */
class CurationSelectSuite extends AnyFunSuite with SharedSpark {

  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("curation").toString
    rows.map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String) =
    graft.SparkEntry.queries(name)(spark, dir)

  test("surprisal_filter: bigram surprisal matches the paper math") {
    // c2: ab=3 ba=1 bc=1 cc=1; contexts c1: a=3 b=2 c=1
    // s(ab)=3e9/3=1e9, s(ba)=2e9, s(bc)=2e9, s(cc)=1e9
    // d0 "a b a b": (ab,ba,ab) sum=4e9 n=3 | d1 "a b c": 3e9 n=2 | d2 "c c": 1e9 n=1
    val dir = writeDocs(Seq(
      (0L, "a b a b", "en", "s0"),
      (1L, "a b c", "en", "s0"),
      (2L, "c c", "en", "s0")))
    val got = run("surprisal_filter", dir)
      .select("doc_id", "n_bigrams", "surprisal_sum")
      .as[(Long, Long, Long)].collect().toSeq
    // ordered by avg desc: d1 (1.5e9), d0 (1.333e9), d2 (1e9)
    assert(got == Seq(
      (1L, 2L, 3000000000L),
      (0L, 3L, 4000000000L),
      (2L, 1L, 1000000000L)))
  }

  test("dsir_select: target-exclusive tokens outrank off-target ones") {
    // 'en' docs use only token "alpha", others only "omega": alpha's
    // bucket weight is 1e6 (pure target), omega's 0 — so every en doc
    // scores avg_w = 1e6 and every fr doc 0, regardless of md5 buckets
    // (a bucket collision would pull both weights strictly inside
    // (0,1e6) and break the exact pin, so the pin also guards the coin).
    val dir = writeDocs(
      (0L to 3L).map(i => (i, "alpha alpha alpha", "en", "s0")) ++
        (4L to 7L).map(i => (i, "omega omega", "fr", "s1")))
    val got = run("dsir_select", dir)
      .select("doc_id", "lang", "w_sum", "n_tokens")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got.take(4).map(_._1) == Seq(0L, 1L, 2L, 3L))
    assert(got.take(4).forall { case (_, l, w, n) => l == "en" && w == n * 1000000L })
    assert(got.drop(4).forall { case (_, l, w, _) => l == "fr" && w == 0L })
  }
}
