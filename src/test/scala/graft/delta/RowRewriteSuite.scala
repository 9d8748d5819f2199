package graft.delta

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** The row-level rewrite behind DELETE, UPDATE and replaceWhere:
  *
  *  - a DML that deletes every row of a deletion-vector file removes the
  *    file instead of re-adding it under a DV covering all its rows
  *    (DELETE, UPDATE and MERGE), so the commit stays on UniForm's
  *    incremental generation path;
  *  - job budgets: copy-on-write DELETE and replaceWhere with a residual
  *    predicate, and a partition-only DELETE, which runs no match scan;
  *  - a property over random tables (partitioned or not; DVs, row
  *    tracking and change data feed each on or off) and random DELETE /
  *    UPDATE / replaceWhere sequences, checked after every step against a
  *    driver-side model: the rows, the row ids and row commit versions,
  *    and the version's change feed.
  */
class RowRewriteSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-rowrewrite").toString

  private def create(dir: String, partitioned: Boolean, conf: Map[String, String]): DeltaTable = {
    import spark.implicits._
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = Seq((0L, "p", Option(0L))).toDF("k", "part", "v").schema.json,
      partitionColumns = if (partitioned) Seq("part") else Nil,
      configuration = conf))
    txn.commit(Nil, Op.CreateTable)
    t
  }

  private def rows(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, s"p${k % 4}", Option(k))).toDF("k", "part", "v").coalesce(1)
  }

  private def actionsAt(t: DeltaTable, v: Long): Seq[Action] =
    t.changes(v).next()._2

  private def genPath(t: DeltaTable): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = IcebergMetadata.metadataDir(t.deltaLog).toString.stripPrefix("file:")
    val hint = Files.readString(new java.io.File(meta, "version-hint.text").toPath).trim
    val json = mapper.readTree(Files.readString(
      new java.io.File(meta, s"v$hint.metadata.json").toPath))
    val cur = json.get("current-snapshot-id").asLong
    json.get("snapshots").elements().asScala.find(_.get("snapshot-id").asLong == cur)
      .get.get("summary").get("graft.gen-path").asText
  }

  // ------------------------------------------- DV files that lose every row

  /** A DV-enabled UniForm table partitioned on `part` (keys 0..39, two
    * files per partition, stats on), `op` run against it, then: no live
    * `p3` file carries a DV and the old `p3` files are only removed.
    * Returns the table and the op's commit actions.
    */
  private def coverAllOfP3(op: DeltaTable => Unit): (DeltaTable, Seq[Action]) = {
    val t = create(tmp(), partitioned = true, Map(
      "delta.universalFormat.enabledFormats" -> "iceberg",
      "delta.enableDeletionVectors" -> "true"))
    t.write(rows(0L until 20L))
    t.write(rows(20L until 40L))
    val p3 = t.deltaLog.update().allFiles.filter(_.partitionValues("part") == "p3")
    assert(p3.size == 2 && p3.forall(f => Stats.numRecords(f.stats).contains(5L)))
    op(t)
    val s = t.deltaLog.update()
    val actions = actionsAt(t, s.version)
    val live = s.allFiles.filter(_.partitionValues("part") == "p3")
    assert(live.forall(f => DeletionVectors.descriptor(f).isEmpty),
      s"a p3 file kept a DV: ${live.map(_.path)}")
    val old = p3.map(_.path).toSet
    assert(actions.collect { case r: RemoveFile => r.path }.toSet == old)
    assert(actions.collect { case a: AddFile if old(a.path) => a.path }.isEmpty,
      "an old p3 file was re-added")
    (t, actions)
  }

  test("DELETE of every row of DV files removes the files") {
    val (t, actions) = coverAllOfP3(_.delete(col("part") === "p3" && col("k") >= 0L))
    assert(!actions.exists(_.isInstanceOf[AddFile]), actions.toString)
    val m = t.deltaLog.commitInfoAt(t.deltaLog.update().version).get.operationMetrics
    assert(m.get("numDeletedRows").contains("10"), m.toString)
    assert(m.get("numDeletionVectorsAdded").contains("0"), m.toString)
    assert(genPath(t) == "incremental")
    assert(t.toDF.count() == 30)
  }

  test("UPDATE of every row of DV files removes the old files") {
    val (t, actions) = coverAllOfP3(
      _.update(col("part") === "p3" && col("k") >= 0L, Map("v" -> lit(-1L))))
    val added = actions.collect { case a: AddFile => a }
    assert(added.nonEmpty && added.forall(a => DeletionVectors.descriptor(a).isEmpty))
    assert(t.toDF.filter(col("v") === -1L).count() == 10)
    assert(t.toDF.count() == 40)
  }

  test("MERGE whenMatchedDelete of every row of DV files removes the files") {
    import spark.implicits._
    val (t, actions) = coverAllOfP3 { t =>
      t.merge((0L until 40L).filter(_ % 4 == 3).toDF("k"),
          col("t.k") === col("s.k") && col("t.part") === "p3")
        .whenMatchedDelete()
        .execute()
    }
    assert(!actions.exists(_.isInstanceOf[AddFile]), actions.toString)
    assert(t.toDF.count() == 30)
  }

  // ------------------------------------------------------------ job budgets

  private def plainTable(): DeltaTable = {
    val t = create(tmp(), partitioned = true, Map.empty)
    t.write(rows(0L until 20L))
    t.write(rows(20L until 40L))
    t
  }

  test("job budget: copy-on-write DELETE with a residual predicate") {
    val t = plainTable()
    // the file list, the match scan, and the rewrite with its stats pass
    val jobs = jobsOf(t.delete(col("part") === "p1" && col("k") >= 10L))
    assert(jobs == 6, s"residual DELETE ran $jobs jobs")
    assert(t.toDF.count() == 33)
  }

  test("job budget: a partition-only DELETE runs no match scan") {
    val t = plainTable()
    // only the file list for planning; a match scan and an empty rewrite
    // took this DELETE to 5 jobs before partition-only deletes removed
    // whole files
    val jobs = jobsOf(t.delete(col("part") === "p1"))
    assert(jobs == 2, s"partition-only DELETE ran $jobs jobs")
    assert(t.toDF.count() == 30)
  }

  test("job budget: replaceWhere with a residual predicate") {
    import spark.implicits._
    val t = plainTable()
    val jobs = jobsOf(t.write(Seq((100L, "p1", Option(100L))).toDF("k", "part", "v"),
      SaveMode.Overwrite, replaceWhere = Some(col("part") === "p1" && col("v") >= 10L)))
    assert(jobs == 8, s"residual replaceWhere ran $jobs jobs")
    assert(t.toDF.count() == 34)
  }

  // -------------------------------------------------- equivalence property

  /** A condition, as a Spark column and as the model's evaluation (true
    * only where the column is TRUE; NULL `v` never matches a `v` test).
    */
  private sealed trait Cond {
    def column: Column
    def holds(k: Long, part: String, v: Option[Long]): Boolean
  }
  private case class PartIs(p: String) extends Cond {
    def column: Column = col("part") === p
    def holds(k: Long, part: String, v: Option[Long]): Boolean = part == p
  }
  private case class VAtLeast(c: Long) extends Cond {
    def column: Column = col("v") >= c
    def holds(k: Long, part: String, v: Option[Long]): Boolean = v.exists(_ >= c)
  }
  private case class PartAndV(p: String, c: Long) extends Cond {
    def column: Column = col("part") === p && col("v") >= c
    def holds(k: Long, part: String, v: Option[Long]): Boolean = part == p && v.exists(_ >= c)
  }
  private case class KeyMod(m: Long, r: Long) extends Cond {
    def column: Column = pmod(col("k"), lit(m)) === r
    def holds(k: Long, part: String, v: Option[Long]): Boolean = k % m == r
  }

  private sealed trait Step
  private case class Del(c: Cond) extends Step
  /** v := 2v + 1, and `part` := `move` when given. */
  private case class Upd(c: Cond, move: Option[String]) extends Step
  /** replaceWhere `c` with `n` new rows that satisfy it. */
  private case class Rw(c: Cond, n: Int) extends Step

  private case class Case(partitioned: Boolean, dv: Boolean, rt: Boolean, cdf: Boolean,
      steps: Seq[Step], rowSeed: Long)

  private val partGen = Gen.choose(0, 3).map(i => s"p$i")
  private val condGen: Gen[Cond] = Gen.oneOf(
    partGen.map(PartIs),
    Gen.choose(0L, 30L).map(VAtLeast),
    for (p <- partGen; c <- Gen.choose(0L, 30L)) yield PartAndV(p, c),
    for (m <- Gen.choose(2L, 4L); r <- Gen.choose(0L, 1L)) yield KeyMod(m, r))
  private val stepGen: Gen[Step] = Gen.oneOf(
    condGen.map(Del),
    for (c <- condGen; move <- Gen.option(partGen)) yield Upd(c, move),
    for (c <- condGen; n <- Gen.choose(0, 3)) yield Rw(c, n))
  private val caseGen: Gen[Case] = for {
    partitioned <- Gen.oneOf(true, false)
    dv <- Gen.oneOf(true, false)
    rt <- Gen.oneOf(true, false)
    cdf <- Gen.oneOf(true, false)
    steps <- Gen.listOfN(4, stepGen)
    rowSeed <- Gen.choose(0L, Long.MaxValue)
  } yield Case(partitioned, dv, rt, cdf, steps, rowSeed)

  /** A model row: (part, v) by key, plus row id and commit version. */
  private case class Lineage(id: Long, version: Long)

  private def checkCase(seed: Long): Unit = {
    import spark.implicits._
    val c = caseGen.pureApply(Gen.Parameters.default, Seed(seed))
    val ctx0 = s"seed $seed: $c"
    info(ctx0)
    val rnd = new scala.util.Random(c.rowSeed)
    val conf = Seq(
      "delta.enableDeletionVectors" -> c.dv,
      "delta.enableRowTracking" -> c.rt,
      "delta.enableChangeDataFeed" -> c.cdf).collect { case (k, true) => k -> "true" }.toMap
    val t = create(tmp(), c.partitioned, conf)
    val model = mutable.Map.empty[Long, (String, Option[Long])]
    val lineage = mutable.Map.empty[Long, Lineage]
    var nextKey = 0L
    def freshRow(cond: Cond): (Long, String, Option[Long]) = {
      var k = nextKey
      cond match { case KeyMod(m, r) => while (k % m != r) k += 1; case _ => () }
      nextKey = k + 1
      val part = cond match {
        case PartIs(p) => p
        case PartAndV(p, _) => p
        case _ => s"p${rnd.nextInt(4)}"
      }
      val v = cond match {
        case VAtLeast(lo) => lo + rnd.nextInt(5)
        case PartAndV(_, lo) => lo + rnd.nextInt(5)
        case _ => rnd.nextInt(30).toLong
      }
      (k, part, Some(v))
    }
    def write(rs: Seq[(Long, String, Option[Long])], replace: Option[Cond]): Unit = {
      val df = rs.toDF("k", "part", "v").coalesce(1)
      replace match {
        case Some(cond) => t.write(df, SaveMode.Overwrite, replaceWhere = Some(cond.column))
        case None => t.write(df)
      }
    }
    // three appends of 8 rows, about one in eight with a NULL v
    (0 until 3).foreach { _ =>
      val rs = Seq.fill(8) {
        val k = nextKey; nextKey += 1
        (k, s"p${rnd.nextInt(4)}", if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(30).toLong))
      }
      write(rs, None)
      rs.foreach { case (k, p, v) => model(k) = (p, v) }
    }
    if (c.rt) t.toDFWithRowIds.collect().foreach { r =>
      lineage(r.getAs[Long]("k")) =
        Lineage(r.getAs[Long]("row_id"), r.getAs[Long]("row_commit_version"))
    }

    c.steps.zipWithIndex.foreach { case (step, i) =>
      val ctx = s"$ctx0, step $i ($step)"
      val before = t.deltaLog.update().version
      // expected change rows (k, part, v, change type) and what the step did
      val changes = Seq.newBuilder[(Long, String, Option[Long], String)]
      val touched = mutable.Set.empty[Long] // updated or inserted keys
      step match {
        case Del(cond) =>
          t.delete(cond.column)
          model.toSeq.foreach { case (k, (p, v)) =>
            if (cond.holds(k, p, v)) {
              model -= k; lineage -= k; changes += ((k, p, v, "delete"))
            }
          }
        case Upd(cond, move) =>
          t.update(cond.column, Map("v" -> (col("v") * 2 + 1)) ++
            move.map(p => "part" -> lit(p)))
          model.toSeq.foreach { case (k, (p, v)) =>
            if (cond.holds(k, p, v)) {
              val img = (move.getOrElse(p), v.map(_ * 2 + 1))
              model(k) = img; touched += k
              changes += ((k, p, v, "update_preimage"))
              changes += ((k, img._1, img._2, "update_postimage"))
            }
          }
        case Rw(cond, n) =>
          val fresh = Seq.fill(n)(freshRow(cond))
          write(fresh, Some(cond))
          model.toSeq.foreach { case (k, (p, v)) =>
            if (cond.holds(k, p, v)) {
              model -= k; lineage -= k; changes += ((k, p, v, "delete"))
            }
          }
          fresh.foreach { case (k, p, v) =>
            model(k) = (p, v); touched += k; changes += ((k, p, v, "insert"))
          }
      }
      val after = t.deltaLog.update().version
      val expected = changes.result()

      // the rows
      val got = t.toDF.select("k", "part", "v").as[(Long, String, Option[Long])]
        .collect().toSeq.sortBy(_._1)
      assert(got == model.toSeq.map { case (k, (p, v)) => (k, p, v) }.sortBy(_._1), ctx)
      assert(after == before || after == before + 1, ctx)
      if (expected.nonEmpty) assert(after == before + 1, s"$ctx: no commit")

      // row ids: kept by every surviving row, fresh and distinct for
      // inserts; commit versions kept by unchanged rows only
      if (c.rt) {
        val ids = t.toDFWithRowIds.collect().map { r =>
          r.getAs[Long]("k") -> Lineage(r.getAs[Long]("row_id"), r.getAs[Long]("row_commit_version"))
        }.toMap
        assert(ids.values.map(_.id).toSet.size == ids.size, s"$ctx: duplicate row ids")
        model.keys.foreach { k =>
          val l = ids(k)
          lineage.get(k) match {
            case Some(old) if touched(k) =>
              assert(l == Lineage(old.id, after), s"$ctx: updated key $k")
            case Some(old) => assert(l == old, s"$ctx: unchanged key $k")
            case None =>
              assert(l.version == after, s"$ctx: inserted key $k")
              lineage(k) = l
          }
          if (touched(k)) lineage(k) = l
        }
      }

      // the version's change feed
      if (c.cdf && after > before) {
        val feed = t.tableChanges(after, after)
          .select("k", "part", "v", "_change_type").as[(Long, String, Option[Long], String)]
          .collect().toSeq
        def norm(s: Seq[(Long, String, Option[Long], String)]) = s.sortBy(_.toString)
        assert(norm(feed) == norm(expected), ctx)
      }
    }
  }

  // fixed seeds, so a failure names its case and replays exactly
  private val seeds = {
    val r = new scala.util.Random(20261019L)
    Seq.fill(16)(r.nextLong())
  }

  test("property: DELETE, UPDATE and replaceWhere agree with a row model") {
    seeds.foreach(checkCase)
  }
}
