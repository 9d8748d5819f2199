package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-sweep data synthesizer: replicates a driver testdata directory
  * K× with key-domain shifting, producing a structurally identical but
  * K-times-larger corpus for plan-shape validation beyond the largest
  * driver scale factor. The point is NOT new statistics — it is
  * checking that the engine's plans (broadcast thresholds, AQE skew
  * splits, band-join shapes, partial-agg top-k bounds) hold at the next
  * decade of data volume before a real cluster finds out.
  *
  * Key discipline mirrors how TPC-H scales: fact/entity key domains
  * (orders, lineitem, customer, supplier, part, events, documents,
  * embeddings) shift by `copy * (max_key + 1)` so copies never collide
  * and every foreign key keeps resolving within its copy; the tiny
  * dimensions (region, nation) stay fixed, exactly like a production
  * star schema where facts grow and dims don't. Text/embedding payloads
  * repeat verbatim — a fair dedup/ANN workload (real corpora at 10× are
  * MORE duplicate-ridden, not less).
  *
  * Usage: runMain graft.tools.ScaleSynth <srcSfDir> <destDir> [k=10]
  */
object ScaleSynth {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dest = args(1)
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("WARN")
    synthesize(spark, src, dest, k)
    spark.stop()
  }

  /** Shifted-union replication of every table into `dest`. */
  def synthesize(spark: SparkSession, src: String, dest: String, k: Int): Unit = {
    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    // span of each shiftable key domain, measured once up front
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val oSpan = span(read("orders"), "o_orderkey")
    val cSpan = span(read("customer"), "c_custkey")
    val pSpan = span(read("part"), "p_partkey")
    val sSpan = span(read("supplier"), "s_suppkey")
    val eSpan = span(read("events"), "event_id")
    val uSpan = span(read("events"), "user_id")
    val dSpan = span(read("documents"), "doc_id")
    val vSpan = span(read("embeddings"), "vec_id")

    // one scaled table = union of k shifted copies; the shift is a
    // per-row projection (no shuffle), so synthesis is a single
    // map-only write per table
    def scaled(t: String, shifts: Map[String, Long]): DataFrame = {
      val base = read(t)
      (0 until k).map { i =>
        shifts.foldLeft(base) { case (df, (c, sp)) =>
          df.withColumn(c, col(c) + lit(i * sp))
        }
      }.reduce(_ unionAll _)
    }

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> scaled("customer", Map("c_custkey" -> cSpan)),
      "supplier" -> scaled("supplier", Map("s_suppkey" -> sSpan)),
      "part" -> scaled("part", Map("p_partkey" -> pSpan)),
      "orders" -> scaled("orders",
        Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)),
      "lineitem" -> scaled("lineitem",
        Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan, "l_suppkey" -> sSpan)),
      "events" -> scaled("events",
        Map("event_id" -> eSpan, "user_id" -> uSpan)),
      "documents" -> scaled("documents", Map("doc_id" -> dSpan)),
      "embeddings" -> scaled("embeddings", Map("vec_id" -> vSpan)))

    plans.foreach { case (t, df) =>
      // the driver layout is one parquet FILE per table name; Bench and
      // the query registry read "<dir>/<table>.parquet" which Spark
      // accepts as a directory just the same — write a directory with
      // partitioned part-files so downstream scans parallelize
      df.write.mode("overwrite").parquet(s"$dest/$t.parquet")
      println(s"[scale-synth] $t -> $dest/$t.parquet")
    }
  }
}
