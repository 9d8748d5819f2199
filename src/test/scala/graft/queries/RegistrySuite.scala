package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Registry integrity: `SparkEntry.queries`/`oracleSql` are built with
  * `.toMap`, where a duplicate key would silently drop the earlier
  * operator from the correctness gate (this actually happened in round
  * 12: C51 shadowed C15 under the shared key `sample_stratified`).
  * These pins make any future collision a hard test failure.
  */
class RegistrySuite extends AnyFunSuite with SharedSpark {

  test("registry names are unique (duplicate keys cannot shadow an operator)") {
    val names = graft.SparkEntry.registry.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq
    assert(dups.isEmpty, s"duplicate registry keys: ${dups.mkString(", ")}")
    assert(names.size == graft.SparkEntry.queries.size)
  }

  test("both stratified-sampling operators are independently registered") {
    val q = graft.SparkEntry.queries
    assert(q.contains("sample_stratified"))    // C15: per-doc sample membership
    assert(q.contains("sample_stratum_report")) // C51: per-stratum report
    assert(graft.SparkEntry.oracleSql.contains("sample_stratified"))
    assert(graft.SparkEntry.oracleSql.contains("sample_stratum_report"))
  }

  test("entry() on sf0.001 returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  /** Read-side booleans a query may legitimately leave set for the whole
    * session: they gate how existing parquet is READ (ns-as-long event
    * timestamps; field-id resolution for column-mapped tables) and can
    * never change the type or value of a dumped result. Anything else —
    * in particular WRITER confs like parquet.outputTimestampType, whose
    * r13 escape flipped three downstream dumps from naive INT96 to
    * UTC-adjusted micros — must be restored before the closure returns.
    */
  private val readSideWhitelist = Set(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled")

  test("no registry closure leaves an unrestored session-conf mutation") {
    val sfDir = "/root/testdata/sf0.001"
    val leaks = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.registry.foreach { q =>
      val before = spark.conf.getAll
      // Closures mutate conf eagerly in the body. A failing fixture at
      // this tiny SF (e.g. zorder needs several files) is not what this
      // spec gates — but its conf snapshot still is: a closure that
      // throws between set and finally-restore must still show clean.
      try q.fn(spark, sfDir)
      catch { case _: Throwable => () }
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filterNot(readSideWhitelist)
        .filter(k => before.get(k) != after.get(k))
      changed.foreach { k =>
        leaks += s"${q.name}: $k ${before.get(k)} -> ${after.get(k)}"
      }
    }
    assert(leaks.isEmpty, s"session-conf leaks:\n${leaks.mkString("\n")}")
  }
}
