package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Row-level DML: DELETE / UPDATE / MERGE, and their CDF capture. */
class DmlSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-dml").toString

  private def table(cdf: Boolean = false): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    val df = Seq(
      (1L, "alice", 10, "x"), (2L, "bob", 20, "x"),
      (3L, "carol", 30, "y"), (4L, "dave", 40, "y"),
      (5L, "erin", 50, "z")).toDF("id", "name", "score", "part")
    if (cdf) {
      val txn = t.deltaLog.startTransaction()
      txn.updateMetadata(Metadata(
        schemaString = df.schema.json, partitionColumns = Seq("part"),
        configuration = Map("delta.enableChangeDataFeed" -> "true")))
      txn.commit(Nil, Op.CreateTable)
    }
    t.write(df, SaveMode.Append, Seq("part"))
    t
  }

  test("DELETE removes matching rows and rewrites only touched files") {
    val t = table()
    val before = t.snapshot.allFiles.map(_.path).toSet
    val v = t.delete(col("score") >= 30 && col("part") === "y") // hits only part=y
    assert(v > 0)
    assert(t.toDF.count() == 3)
    assert(t.toDF.filter(col("part") === "y").count() == 0)
    val after = t.snapshot.allFiles.map(_.path).toSet
    val untouched = before.filter(_.contains("part=x"))
    assert(untouched.subsetOf(after), "files without matches must not be rewritten")
  }

  test("DELETE keeps rows where the predicate is NULL") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, Some(5)), (2L, None), (3L, Some(50))).toDF("id", "v"))
    t.delete(col("v") > 10) // NULL > 10 is NULL -> keep, per SQL
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("DELETE with no matches is a no-op commit-wise") {
    val t = table()
    val v0 = t.snapshot.version
    assert(t.delete(col("score") > 999) == v0)
    assert(t.snapshot.version == v0)
  }

  test("UPDATE evaluates SET against the old row") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    t.write(Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("id", "a", "b"))
    // swap: both expressions must see the OLD a and b
    t.update(col("id") === 1, Map("a" -> col("b"), "b" -> col("a")))
    val r = t.toDF.orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(r == Seq((1L, 100L, 10L), (2L, 20L, 200L)))
  }

  test("UPDATE moves rows across partitions when a partition column changes") {
    val t = table()
    t.update(col("id") === 5, Map("part" -> lit("x")))
    assert(t.toDF.filter(col("part") === "z").count() == 0)
    assert(t.toDF.filter(col("part") === "x").count() == 3)
    // the row physically lives in a part=x file now
    assert(t.snapshot.allFiles.forall(f => f.partitionValues("part") != "z"))
  }

  test("MERGE updateAll + insertAll upserts") {
    import spark.implicits._
    val t = table()
    val src = Seq(
      (1L, "ALICE", 11, "x"),   // matched -> update
      (6L, "frank", 60, "z")    // not matched -> insert
    ).toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val r = t.toDF.orderBy("id").as[(Long, String, Int, String)].collect().toSeq
    assert(r == Seq(
      (1L, "ALICE", 11, "x"), (2L, "bob", 20, "x"), (3L, "carol", 30, "y"),
      (4L, "dave", 40, "y"), (5L, "erin", 50, "z"), (6L, "frank", 60, "z")))
  }

  test("MERGE delete clause and explicit set expressions") {
    import spark.implicits._
    val t = table()
    val toDelete = Seq(2L, 4L).toDF("id")
    t.merge(toDelete, col("t.id") === col("s.id")).whenMatchedDelete().execute()
    assert(t.toDF.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L, 5L))
    // set expression mixing source and target columns
    val bump = Seq((1L, 5), (3L, 7)).toDF("id", "delta")
    t.merge(bump, col("t.id") === col("s.id"))
      .whenMatchedUpdate(Map("score" -> (col("t.score") + col("s.delta"))))
      .execute()
    val scores = t.toDF.orderBy("id").select("score").as[Int].collect().toSeq
    assert(scores == Seq(15, 37, 50))
  }

  test("MERGE into an empty or non-matching table inserts") {
    import spark.implicits._
    val t = table()
    val src = Seq((7L, "gina", 70, "w")).toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id")).whenNotMatchedInsertAll().execute()
    assert(t.toDF.count() == 6)
    assert(t.toDF.filter(col("id") === 7).select("part").head().getString(0) == "w")
  }

  test("MERGE rejects multiple source rows matching one target row") {
    import spark.implicits._
    val t = table()
    val src = Seq((1L, 100), (1L, 200)).toDF("id", "score2")
    intercept[UnsupportedOperationException] {
      t.merge(src, col("t.id") === col("s.id"))
        .whenMatchedUpdate(Map("score" -> col("s.score2")))
        .execute()
    }
  }

  test("MERGE clause conditions: first satisfied clause wins, in order") {
    import spark.implicits._
    val t = table()
    val src = Seq(
      (1L, "alice2", 11, "x"),  // score 10 -> clause 1 (delete, score < 15)
      (3L, "carol2", 31, "y"),  // score 30 -> clause 2 (update, score < 35)
      (5L, "erin2", 51, "z")    // score 50 -> clause 3 (unconditional updateAll)
    ).toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedDelete(col("t.score") < 15)
      .whenMatchedUpdate(col("t.score") < 35, Map("name" -> upper(col("s.name"))))
      .whenMatchedUpdateAll()
      .execute()
    val r = t.toDF.orderBy("id").as[(Long, String, Int, String)].collect().toSeq
    assert(r == Seq(
      (2L, "bob", 20, "x"), (3L, "CAROL2", 30, "y"),
      (4L, "dave", 40, "y"), (5L, "erin2", 51, "z")))
  }

  test("MERGE conditional insert skips source rows failing the clause condition") {
    import spark.implicits._
    val t = table()
    val src = Seq(
      (6L, "frank", 60, "z"), (7L, "gina", -1, "w")
    ).toDF("id", "name", "score", "part")
    t.merge(src, col("t.id") === col("s.id"))
      .whenNotMatchedInsertAll(col("s.score") > 0)
      .execute()
    assert(t.toDF.count() == 6)
    assert(t.toDF.filter(col("id") === 7).count() == 0)
  }

  test("MERGE whenNotMatchedBySource updates and deletes target-only rows") {
    import spark.implicits._
    val t = table()
    val src = Seq((1L, 99)).toDF("id", "newscore")
    t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdate(Map("score" -> col("s.newscore")))
      .whenNotMatchedBySourceDelete(col("t.score") >= 40)
      .whenNotMatchedBySourceUpdate(Map("name" -> concat(col("t.name"), lit("_stale"))))
      .execute()
    val r = t.toDF.orderBy("id").as[(Long, String, Int, String)].collect().toSeq
    assert(r == Seq(
      (1L, "alice", 99, "x"),         // matched update
      (2L, "bob_stale", 20, "x"),     // bySource update (score < 40)
      (3L, "carol_stale", 30, "y")))  // 4 and 5 bySource-deleted
  }

  test("CDF captures conditional-clause MERGE per applied clause") {
    import spark.implicits._
    val t = table(cdf = true)
    val src = Seq((1L, 0), (2L, 99)).toDF("id", "newscore")
    val v = t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedDelete(col("s.newscore") === 0)
      .whenMatchedUpdate(Map("score" -> col("s.newscore")))
      .execute()
    val ch = t.tableChanges(v, v)
      .select($"id", $"score", $"_change_type")
      .orderBy($"id", $"_change_type")
      .as[(Long, Int, String)].collect().toSeq
    assert(ch == Seq(
      (1L, 10, "delete"),
      (2L, 99, "update_postimage"),
      (2L, 20, "update_preimage")))
  }

  test("CDF over a long version range builds a bounded plan") {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, tmp())
    (0 until 30).foreach(k =>
      t.write(Seq((k.toLong, s"r$k")).toDF("id", "v").coalesce(1)))
    val df = t.tableChanges(0, 29)
    // all 30 insert commits collapse into ONE grouped parquet read (plus
    // the broadcast version-attribution relation) — not one per version
    val scans = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }
    assert(scans.size == 1, s"expected one grouped scan, got ${scans.size}")
    // attribution stays exact per file
    assert(df.count() == 30)
    val vs = df.select($"id", $"_commit_version").as[(Long, Long)].collect().toMap
    assert((0 until 30).forall(k => vs(k.toLong) == k.toLong))
  }

  test("CDF captures row-level deletes and update pre/post images") {
    import spark.implicits._
    val t = table(cdf = true)
    val v1 = t.delete(col("id") === 3)                            // row-level delete
    val v2 = t.update(col("id") === 1, Map("score" -> lit(99)))   // row-level update
    val ch = t.tableChanges(v1, v2)
      .select($"id", $"score", $"_change_type", $"_commit_version")
      .orderBy($"_commit_version", $"id", $"_change_type")
      .as[(Long, Int, String, Long)].collect().toSeq
    assert(ch == Seq(
      (3L, 30, "delete", v1),
      (1L, 99, "update_postimage", v2), // "…post…" sorts before "…pre…"
      (1L, 10, "update_preimage", v2)))
    // survivors rewritten in the same files must NOT appear as changes
    assert(!ch.exists { case (id, _, ct, _) => id == 4L && ct == "delete" })
  }

  test("CDF captures merge inserts, updates and deletes") {
    import spark.implicits._
    val t = table(cdf = true)
    val src = Seq((2L, "BOB", 21, "x"), (9L, "zoe", 90, "q")).toDF("id", "name", "score", "part")
    val v = t.merge(src, col("t.id") === col("s.id"))
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    val ch = t.tableChanges(v, v)
      .select($"id", $"score", $"_change_type")
      .orderBy($"id", $"_change_type")
      .as[(Long, Int, String)].collect().toSeq
    assert(ch == Seq(
      (2L, 21, "update_postimage"), // "…post…" sorts before "…pre…"
      (2L, 20, "update_preimage"),
      (9L, 90, "insert")))
  }

  test("idempotent MERGE: a replayed foreachBatch micro-batch is a no-op") {
    import spark.implicits._
    val t = table()
    val src = Seq((1L, "alice2", 11, "x"), (9L, "zoe", 90, "q"))
      .toDF("id", "name", "score", "part")
    def run() = t.merge(src, col("t.id") === col("s.id"))
      .withIdempotentTxn("app", 7L)
      .whenMatchedUpdate(Map("score" -> (col("t.score") + col("s.score"))))
      .whenNotMatchedInsertAll()
      .execute()
    val v1 = run()
    val after1 = t.toDF.select($"id", $"score").as[(Long, Int)].collect().toMap
    assert(after1(1L) == 21 && after1(9L) == 90)
    // replay of the same batch id: no new commit, no double-application
    val v2 = run()
    assert(v2 == v1, "replayed batch must not commit")
    val after2 = t.toDF.select($"id", $"score").as[(Long, Int)].collect().toMap
    assert(after2 == after1)
    // the NEXT batch id still applies
    val v3 = t.merge(src, col("t.id") === col("s.id"))
      .withIdempotentTxn("app", 8L)
      .whenMatchedUpdate(Map("score" -> (col("t.score") + col("s.score"))))
      .execute()
    assert(v3 == v1 + 1)
    val after3 = t.toDF.select($"id", $"score").as[(Long, Int)].collect().toMap
    assert(after3(1L) == 32 && after3(9L) == 180)
  }

  test("replaceWhere: partition-granular overwrite is metadata-only") {
    import spark.implicits._
    val t = table()
    val untouched = t.snapshot.allFiles.filterNot(_.partitionValues("part") == "y")
      .map(_.path).toSet
    val repl = Seq((30L, "carl", 33, "y")).toDF("id", "name", "score", "part")
    t.write(repl, SaveMode.Overwrite, replaceWhere = Some(col("part") === "y"))
    val after = t.snapshot.allFiles
    // files outside part=y survive byte-identical (no rewrite happened)
    assert(untouched.subsetOf(after.map(_.path).toSet))
    assert(t.toDF.filter($"part" === "y").select($"id").as[Long].collect().toSeq == Seq(30L))
    assert(t.toDF.count() == 4) // 3 survivors in x/z + 1 new
  }

  test("replaceWhere: arbitrary predicate rewrites survivors, rejects violations") {
    import spark.implicits._
    val t = table()
    val repl = Seq((40L, "dina", 44, "y")).toDF("id", "name", "score", "part")
    // replace score>=40 (hits part=y's dave and part=z's erin); carol (30) survives
    t.write(repl, SaveMode.Overwrite, replaceWhere = Some(col("score") >= 40))
    val rows = t.toDF.select($"id", $"score").as[(Long, Int)].collect().toMap
    assert(rows == Map(1L -> 10, 2L -> 20, 3L -> 30, 40L -> 44))
    // a row OUTSIDE the declared region must be rejected INSIDE the
    // write job (raise_error guard), before anything commits
    val v = t.deltaLog.update().version
    val bad = Seq((99L, "bad", 1, "x")).toDF("id", "name", "score", "part")
    val ex = intercept[Exception] {
      t.write(bad, SaveMode.Overwrite, replaceWhere = Some(col("score") >= 40))
    }
    assert(ex.isInstanceOf[ConstraintViolationException] ||
      Constraints.unwrap(ex).isDefined, s"unexpected failure: $ex")
    assert(t.deltaLog.update().version == v)
    // and replaceWhere demands Overwrite mode
    intercept[IllegalArgumentException] {
      t.write(bad, SaveMode.Append, replaceWhere = Some(col("score") >= 40))
    }
  }

  test("replaceWhere: CDF captures the replaced region as deletes + inserts") {
    import spark.implicits._
    val t = table(cdf = true)
    val repl = Seq((50L, "eve", 55, "z")).toDF("id", "name", "score", "part")
    val v = t.write(repl, SaveMode.Overwrite, replaceWhere = Some(col("part") === "z"))
    val ch = t.tableChanges(v, v)
      .select($"id", $"_change_type")
      .orderBy($"id").as[(Long, String)].collect().toSeq
    assert(ch == Seq((5L, "delete"), (50L, "insert")))
  }

  test("replaceWhere through the DataFrameWriter option") {
    import spark.implicits._
    val t = table()
    val dir = t.deltaLog.dataPath.toString
    Seq((20L, "bo", 22, "x")).toDF("id", "name", "score", "part")
      .write.format("graft-delta").mode(SaveMode.Overwrite)
      .option("replaceWhere", "part = 'x'").save(dir)
    val rows = t.toDF.filter($"part" === "x").select($"id").as[Long].collect().toSeq
    assert(rows == Seq(20L))
    assert(t.toDF.count() == 4)
  }
}
