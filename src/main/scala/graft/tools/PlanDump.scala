package graft.tools

/** Plan-shape auditor: prints the formatted physical plan of named
  * registry queries against a given data directory. Used by the scale
  * sweep to diff plan SHAPES between sf0.1 and the 10× synthetic corpus
  * — a broadcast join that flips to sort-merge, an AQE skew split that
  * stops firing, or a partial-agg top-k that degenerates to a global
  * sort is exactly the class of regression a wall-clock number alone
  * can't attribute.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <query> [query ...]
  * With no query names: dumps every bench query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.benchQueries
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===== $name @ $sfDir =====")
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        // join/exchange/aggregate skeleton: one line per operator class
        // of interest, indentation preserved — diffable across scales
        val plan = df.queryExecution.executedPlan.toString
        plan.linesIterator
          .filter(l => l.contains("Join") || l.contains("Exchange") ||
            l.contains("HashAggregate") || l.contains("Scan parquet") ||
            l.contains("WholeStageCodegen") || l.contains("Sort") ||
            l.contains("Window") || l.contains("Expand"))
          .foreach(println)
      } catch {
        case e: Throwable => println(s"[plan-dump] FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
