package graft.tools

import org.apache.spark.sql._
import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Similarity}
import graft.queries.QueryDefs

/** Scratch phase-level profiler for the LLM-pipeline bench paths (r20
  * investigation: ann_index_admit, ann_ivf_trained, dedup_minhash_lsh /
  * dedup_cluster small-scale floor). It calls the dedup stages that are
  * private to `graft`. Not part of the driver contract;
  * body changes freely between investigations.
  */
object ProfLlm {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[TIME $label] ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import QueryDefs.{table, dotD, toDoubleArr}

    // warmup
    try table(spark, d, "lineitem").groupBy($"l_returnflag").count().count()
    catch { case _: Throwable => }

    def normed: DataFrame = table(spark, d, "embeddings")
      .withColumn("e", toDoubleArr($"embedding"))
      .withColumn("nrm", sqrt(dotD($"e", $"e")))
      .select($"vec_id", $"label", $"e", $"nrm")

    // ---- ann_index_admit phase decomposition (2 passes; read pass 2,
    // pass 1 pays residual codegen warmup)
    (1 to 2).foreach { n =>
      t(s"admit-p$n-TOTAL") {
        val v = normed.persist()
        val b1 = v.filter(pmod($"vec_id", lit(2)) === 0)
        val b2 = v.filter(pmod($"vec_id", lit(2)) === 1)
        val dir = QueryDefs.scratchDir("prof-ann-maintained")
        t(s"admit-p$n-build(train+write+admit1)") {
          Similarity.buildIndex(spark, b1.select($"vec_id", $"e", $"nrm"), dir.toString)
        }
        t(s"admit-p$n-admit2") {
          Similarity.admitBatch(spark, b2.select($"vec_id", $"e", $"nrm"), dir.toString)
        }
        v.unpersist()
        t(s"admit-p$n-probe") {
          val index = Similarity.readIndex(spark, dir.toString)
          val q = index.filter($"vec_id" < 8)
            .select($"vec_id".as("q_id"), $"e".as("qe"), $"nrm".as("qn"), $"cell")
          val probed = q.select($"cell").distinct().as[Int].collect().toSeq.sorted
          val c = index.where($"cell".isInCollection(probed))
            .select($"vec_id".as("c_id"), $"e".as("ce"), $"nrm".as("cn"), $"cell")
          val res = c.join(broadcast(q), Seq("cell")).filter($"c_id" =!= $"q_id")
            .withColumn("cosine", dotD($"qe", $"ce") / ($"qn" * $"cn"))
            .groupBy($"q_id")
            .agg(graft.functions.TopKExpressions.topKByScore($"cosine", $"c_id", 5).as("top"))
            .select($"q_id", posexplode($"top"))
          res.count()
        }
        // scratch dir cleanup
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }

    // ---- dedup_minhash_lsh phase decomposition
    def shingledDocs: DataFrame = {
      import org.apache.spark.sql.{GraftShims => ExpressionUtils}
      import graft.functions.WordShingles
      table(spark, d, "documents")
        .withColumn("sh",
          ExpressionUtils.column(WordShingles(ExpressionUtils.expression($"text"), 3)))
        .filter(size($"sh") > 0)
        .select($"doc_id", $"sh")
    }
    (1 to 2).foreach { n =>
      t(s"lsh-p$n-TOTAL") {
        val docs = shingledDocs
        val (repBands, members) = t(s"lsh-p$n-collapsedBands(incl checkpoint)") {
          val rb = Dedup.collapsedBands(docs, 4, 4)
          rb._1.count(); rb
        }
        t(s"lsh-p$n-members-count") { members.count() }
        t(s"lsh-p$n-verify") {
          Dedup.verifiedRepPairs(docs, repBands, 0.7).count()
        }
        t(s"lsh-p$n-verify+expand") {
          Dedup.expandPairs(
            Dedup.verifiedRepPairs(docs, repBands, 0.7), members).count()
        }
      }
    }
    // fixed-stage isolation: the md5 fingerprint + banded sig frame with
    // and without the eager checkpoint, and the r18-shape reference
    // (bands straight to self-join, no collapse)
    import org.apache.spark.sql.{GraftShims => EU}
    import graft.functions.MinHashSig
    val P = 1073741789L
    def bandsFpRaw = {
      val sig = EU.column(MinHashSig(EU.expression($"sh"), Dedup.hashAB, P))
      shingledDocs
        .withColumn("fp", md5(concat_ws("", array_sort($"sh"))))
        .withColumn("sig", sig)
        .select($"doc_id", $"fp",
          posexplode(array((0 until 4).map { b =>
            concat_ws("|", (0 until 4).map(r =>
              element_at($"sig", b * 4 + r + 1)): _*)
          }: _*)).as(Seq("b", "bkey")))
    }
    (1 to 2).foreach { n =>
      t(s"iso-p$n-bandsFp-plain-count") { bandsFpRaw.count() }
      t(s"iso-p$n-bandsFp-checkpoint") { QueryDefs.stableCheckpoint(bandsFpRaw).count() }
      t(s"iso-p$n-r18-shape-full") {
        val docs = shingledDocs
        val bands = bandsFpRaw.select($"doc_id", $"b", $"bkey")
        val l = bands.select($"doc_id".as("doc_a"), $"b", $"bkey")
        val r = bands.select($"doc_id".as("doc_b"), $"b", $"bkey")
        val cand = l.join(r, Seq("b", "bkey")).filter($"doc_a" < $"doc_b")
          .select($"doc_a", $"doc_b").distinct()
        val inter = (sa: Column, sb: Column) =>
          EU.column(graft.functions.ArrayIntersectCount(
            EU.expression(sa), EU.expression(sb))).cast("double")
        cand
          .join(docs.select($"doc_id".as("doc_a"), $"sh".as("sa")), Seq("doc_a"))
          .join(docs.select($"doc_id".as("doc_b"), $"sh".as("sb")), Seq("doc_b"))
          .withColumn("jaccard",
            inter($"sa", $"sb") / ((size($"sa") + size($"sb")).cast("double") - inter($"sa", $"sb")))
          .filter($"jaccard" >= 0.7)
          .count()
      }
    }
    spark.stop()
  }
}
