package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured: `local[cpus]`,
  * the graft SQL extension, one shuffle partition per thread, adaptive
  * execution, UTC session time and no UI. Entry points take `cpus` from
  * `SPARK_GRAFT_CPUS`; tests add their own warehouse dir to `builder`.
  */
object Session {
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.sql.GraftSparkExtension")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  def local(cpus: Int): SparkSession = builder(cpus).getOrCreate()
}
