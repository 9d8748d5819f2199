package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta.{DeltaTable, Op}
import graft.testutil.SharedSpark

/** The SQL surface (`graft.sql.GraftSparkExtension`): saveAsTable +
  * spark.table + INSERT through the metastore, SQL DELETE/UPDATE/MERGE,
  * and the OPTIMIZE / VACUUM / DESCRIBE HISTORY / RESTORE statements.
  */
class SqlSurfaceSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-sql").toString

  /** Drop the table AND its warehouse directory: the in-memory catalog
    * empties per JVM, but a previous run's `spark-warehouse/<name>`
    * (with its _delta_log) survives on disk and would make a fresh
    * saveAsTable fail as already-exists.
    */
  private def freshTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = if (wh.contains(":")) new java.io.File(new java.net.URI(wh))
      else new java.io.File(wh)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    val dir = new java.io.File(root, name)
    if (dir.exists()) rm(dir)
  }

  private def seed(): DataFrame = {
    import spark.implicits._
    Seq((1L, "alice", 10, "x"), (2L, "bob", 20, "x"),
      (3L, "carol", 30, "y"), (4L, "dave", 40, "y"),
      (5L, "erin", 50, "z")).toDF("id", "name", "score", "part")
  }

  test("saveAsTable + spark.table + SQL SELECT round trip") {
    freshTable("t_round")
    seed().write.format("graft-delta").partitionBy("part").saveAsTable("t_round")
    assert(spark.table("t_round").count() == 5)
    val agg = spark.sql(
      "SELECT part, count(*) AS c FROM t_round GROUP BY part ORDER BY part")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(agg == Seq(("x", 2L), ("y", 2L), ("z", 1L)))
    // it is a transaction-logged table at the metastore location
    val loc = spark.sql("DESCRIBE TABLE EXTENDED t_round").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    assert(DeltaTable.isDeltaTable(spark, loc))
    // appends via saveAsTable land in the log
    seed().limit(2).write.format("graft-delta").mode("append")
      .partitionBy("part").saveAsTable("t_round")
    assert(spark.table("t_round").count() == 7)
  }

  test("INSERT INTO / INSERT OVERWRITE go through the transaction log") {
    freshTable("t_insert")
    seed().write.format("graft-delta").saveAsTable("t_insert")
    spark.sql("INSERT INTO t_insert VALUES (6, 'frank', 60, 'z')")
    assert(spark.table("t_insert").count() == 6)
    val loc = spark.sql("DESCRIBE TABLE EXTENDED t_insert").collect()
      .find(_.getString(0) == "Location").get.getString(1)
    val t = DeltaTable.forPath(spark, loc)
    // the insert is a commit, not loose parquet: log and listing agree
    assert(t.snapshot.version == 1L)
    assert(t.toDF.count() == 6)
    spark.sql("INSERT OVERWRITE t_insert VALUES (9, 'zoe', 90, 'q')")
    assert(spark.table("t_insert").count() == 1)
    assert(t.deltaLog.update().version == 2L)
  }

  test("SQL DELETE and UPDATE on a catalog table") {
    freshTable("t_dml")
    seed().write.format("graft-delta").saveAsTable("t_dml")
    spark.sql("DELETE FROM t_dml WHERE score >= 40")
    assert(spark.table("t_dml").count() == 3)
    spark.sql("UPDATE t_dml SET score = score + 100 WHERE part = 'x'")
    val scores = spark.table("t_dml").orderBy("id").collect().map(_.getInt(2)).toSeq
    assert(scores == Seq(110, 120, 30), s"got $scores")
    // unconditional forms
    spark.sql("UPDATE t_dml SET score = 0")
    assert(spark.table("t_dml").agg(sum("score")).collect().head.getLong(0) == 0L)
    spark.sql("DELETE FROM t_dml")
    assert(spark.table("t_dml").count() == 0)
  }

  test("SQL MERGE INTO with update/delete/insert clauses") {
    import spark.implicits._
    freshTable("t_merge")
    seed().write.format("graft-delta").saveAsTable("t_merge")
    Seq((1L, "ALICE", 11, "x"), (4L, "DAVE", 44, "y"), (6L, "frank", 60, "z"))
      .toDF("id", "name", "score", "part").createOrReplaceTempView("updates")
    spark.sql("""
      MERGE INTO t_merge t USING updates u ON t.id = u.id
      WHEN MATCHED AND u.score > 40 THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = u.name, score = u.score
      WHEN NOT MATCHED THEN INSERT *
    """)
    val rows = spark.table("t_merge").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "ALICE", 11), (2L, "bob", 20), (3L, "carol", 30),
      (5L, "erin", 50), (6L, "frank", 60)), s"got $rows")
    // NOT MATCHED BY SOURCE
    spark.sql("""
      MERGE INTO t_merge t USING updates u ON t.id = u.id
      WHEN NOT MATCHED BY SOURCE AND t.id > 3 THEN DELETE
    """)
    assert(spark.table("t_merge").orderBy("id").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L, 3L, 6L))
  }

  test("OPTIMIZE, ZORDER, DESCRIBE HISTORY, RESTORE, VACUUM by path") {
    import spark.implicits._
    val dir = tmp()
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"r$i", "x")).toDF("id", "v", "part")
        .write.format("graft-delta").mode("append").save(dir)
    }
    val t = DeltaTable.forPath(spark, dir)
    assert(t.snapshot.numOfFiles == 4)
    spark.sql(s"OPTIMIZE '$dir'")
    assert(t.deltaLog.update().numOfFiles == 1)
    assert(spark.read.format("graft-delta").load(dir).count() == 4)

    // ZORDER keeps row content, rewrites layout
    spark.sql(s"OPTIMIZE delta.`$dir` ZORDER BY (id, v)")
    assert(spark.read.format("graft-delta").load(dir).count() == 4)

    val hist = spark.sql(s"DESCRIBE HISTORY '$dir'").collect()
    assert(hist.length == t.deltaLog.update().version + 1)
    assert(hist.head.getLong(0) == t.deltaLog.update().version) // newest first
    assert(hist.map(_.getString(2)).contains("OPTIMIZE"))
    assert(spark.sql(s"DESCRIBE HISTORY '$dir' LIMIT 2").count() == 2)

    spark.sql(s"RESTORE '$dir' TO VERSION AS OF 0")
    assert(spark.read.format("graft-delta").load(dir).count() == 1)

    // VACUUM with RETAIN 0 HOURS clears the pre-compaction files
    val removed = spark.sql(s"VACUUM '$dir' RETAIN 0 HOURS").count()
    assert(removed > 0)
    assert(spark.read.format("graft-delta").load(dir).count() == 1)
  }

  test("TRUNCATE TABLE is a metadata-only remove-all commit, CDF-visible") {
    import spark.implicits._
    val dir = tmp()
    seed().write.format("graft-delta").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    val filesBefore = t.snapshot.allFiles.map(_.path)
    val v = spark.sql(s"TRUNCATE TABLE graft.`$dir`").collect().head.getLong(0)
    assert(spark.read.format("graft-delta").load(dir).count() == 0)
    // metadata-only: the data files are tombstoned, not physically deleted
    filesBefore.foreach { p =>
      assert(new java.io.File(dir, p).exists(), s"$p must survive on disk")
    }
    // DESCRIBE HISTORY names the operation from the typed enum
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$dir` LIMIT 1").collect()
    assert(hist.head.getString(2) == "TRUNCATE")
    // time travel before the truncate still reads the old rows
    assert(t.toDF(v - 1).count() == 5)
    // CDF surfaces the truncation as row-level deletes
    val changes = t.tableChanges(v, v)
      .select($"_change_type", $"id").as[(String, Long)].collect()
    assert(changes.length == 5 && changes.forall(_._1 == "delete"))
    assert(changes.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // vanilla TRUNCATE on a non-graft catalog table still reaches Spark
    freshTable("t_plain_trunc")
    seed().write.saveAsTable("t_plain_trunc")
    spark.sql("TRUNCATE TABLE t_plain_trunc")
    assert(spark.table("t_plain_trunc").count() == 0)
  }

  test("maintenance SQL resolves catalog table names too") {
    freshTable("t_maint")
    seed().write.format("graft-delta").saveAsTable("t_maint")
    seed().write.format("graft-delta").mode("append").saveAsTable("t_maint")
    val v = spark.sql("OPTIMIZE t_maint").collect().head.getLong(0)
    assert(v >= 2L)
    assert(spark.table("t_maint").count() == 10)
    assert(spark.sql("DESCRIBE HISTORY t_maint").count() == v + 1)
    spark.sql("RESTORE TABLE t_maint TO VERSION AS OF 0")
    assert(spark.table("t_maint").count() == 5)
  }

  test("SET/UNSET/SHOW TBLPROPERTIES live in the transaction log") {
    import spark.implicits._
    val dir = tmp()
    // one file with a row the DELETE below keeps, so it is masked, not removed
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.format("graft-delta").save(dir)
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES (" +
      "'delta.enableDeletionVectors' = 'true', 'delta.clusteringColumns' = 'id')")
    val t = DeltaTable.forPath(spark, dir)
    val cfg = t.deltaLog.update().metadata.configuration
    assert(cfg("delta.enableDeletionVectors") == "true")
    assert(cfg("delta.clusteringColumns") == "id")
    assert(t.history(1).head.operation == "SET_TABLE_PROPERTIES")
    // SHOW reads the log, sorted; single-key form filters
    val shown = spark.sql(s"SHOW TBLPROPERTIES graft.`$dir`")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(shown == shown.sortBy(_._1) && shown.toMap == cfg)
    val one = spark.sql(
      s"SHOW TBLPROPERTIES graft.`$dir` ('delta.clusteringColumns')").collect()
    assert(one.length == 1 && one.head.getString(1) == "id")
    // the property is live: a DELETE now takes the merge-on-read path
    val before = t.snapshot.allFiles.map(_.path).toSet
    t.delete(col("id") === 1)
    assert(before.subsetOf(t.snapshot.allFiles.map(_.path).toSet),
      "DV property set via SQL must route DELETE through deletion vectors")
    spark.sql(s"ALTER TABLE graft.`$dir` UNSET TBLPROPERTIES ('delta.clusteringColumns')")
    assert(!t.deltaLog.update().metadata.configuration.contains("delta.clusteringColumns"))
  }

  test("DESCRIBE DETAIL summarizes the table in one row") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "part")
      .write.format("graft-delta").partitionBy("part").save(dir)
    val r = spark.sql(s"DESCRIBE DETAIL graft.`$dir`").collect().head
    assert(r.getAs[String]("format") == "graft-delta")
    assert(r.getAs[scala.collection.Seq[String]]("partitionColumns").toSeq == Seq("part"))
    assert(r.getAs[Long]("numFiles") == 2)
    assert(r.getAs[Long]("sizeInBytes") > 0)
    assert(r.getAs[Int]("minReaderVersion") >= 1)
    // catalog-table form resolves through the metastore
    freshTable("t_detail")
    seed().write.format("graft-delta").saveAsTable("t_detail")
    val d2 = spark.sql("DESCRIBE DETAIL t_detail").collect().head
    assert(d2.getAs[Long]("numFiles") > 0)
  }

  test("ALTER TABLE ADD COLUMNS / ADD-DROP CONSTRAINT commit to the log") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 10), (2L, 20)).toDF("id", "score").write.format("graft-delta").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    // metadata-only column addition: old files read the new column as null
    spark.sql(s"ALTER TABLE graft.`$dir` ADD COLUMNS (tag STRING, w DOUBLE)")
    assert(t.deltaLog.update().metadata.schema.fieldNames.toSeq ==
      Seq("id", "score", "tag", "w"))
    assert(t.toDF.select("tag").collect().forall(_.isNullAt(0)))
    assert(t.history(1).head.operation == "ADD_COLUMNS")
    // CHECK constraint: validated against existing rows, enforced on write
    spark.sql(s"ALTER TABLE graft.`$dir` ADD CONSTRAINT pos CHECK (score > 0)")
    assert(t.constraints == Map("pos" -> "score > 0"))
    val ex = intercept[Exception](
      t.write(Seq((3L, -5, "x", 1.0)).toDF("id", "score", "tag", "w")))
    assert(ex.isInstanceOf[graft.delta.ConstraintViolationException] ||
      graft.delta.Constraints.unwrap(ex).isDefined)
    spark.sql(s"ALTER TABLE graft.`$dir` DROP CONSTRAINT pos")
    assert(t.constraints.isEmpty)
    // IF EXISTS tolerates a missing name
    spark.sql(s"ALTER TABLE graft.`$dir` DROP CONSTRAINT IF EXISTS nope")
  }

  test("ALTER TABLE RENAME COLUMN / DROP COLUMN are metadata-only SQL") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, 10, "a"), (2L, 20, "b")).toDF("id", "score", "tag")
      .write.format("graft-delta").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    val filesBefore = t.deltaLog.update().allFiles.map(_.path).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN score TO points")
    assert(t.deltaLog.update().metadata.schema.fieldNames.toSeq ==
      Seq("id", "points", "tag"))
    // the data files are untouched: physical name still serves the reads
    assert(t.deltaLog.update().allFiles.map(_.path).toSet == filesBefore)
    assert(t.toDF.select("points").as[Int].collect().sorted.toSeq == Seq(10, 20))
    assert(t.history(1).head.operation == "RENAME COLUMN")
    spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN tag")
    assert(t.deltaLog.update().metadata.schema.fieldNames.toSeq == Seq("id", "points"))
    assert(t.deltaLog.update().allFiles.map(_.path).toSet == filesBefore)
    assert(t.toDF.columns.toSeq == Seq("id", "points"))
    assert(t.history(1).head.operation == "DROP COLUMN")
    // DROP CONSTRAINT still parses as a constraint drop, not a column drop
    spark.sql(s"ALTER TABLE graft.`$dir` DROP CONSTRAINT IF EXISTS nope")
  }

  test("ALTER COLUMN SET DEFAULT / DROP DEFAULT drive column defaults via SQL") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "name").write.format("graft-delta").save(dir)
    val t = DeltaTable.forPath(spark, dir)
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN name SET DEFAULT concat('anon-', id)")
    t.write(Seq(5L).toDF("id"))
    assert(t.toDF.orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (5L, "anon-5")))
    assert(t.snapshot.protocol.writerFeatures.exists(_.contains("allowColumnDefaults")))
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN name DROP DEFAULT")
    intercept[IllegalArgumentException](t.write(Seq(6L).toDF("id")))
  }

  test("SHOW PARTITIONS answers from the log, including null partitions") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, Some("x")), (2L, Some("y")), (3L, None), (4L, Some("x")))
      .toDF("id", "part")
      .write.format("graft-delta").partitionBy("part").save(dir)
    val parts = spark.sql(s"SHOW PARTITIONS graft.`$dir`")
      .collect().map(_.getString(0)).toSeq
    assert(parts == Seq("part=__HIVE_DEFAULT_PARTITION__", "part=x", "part=y"))
    // partitions disappear when their files do
    val t = DeltaTable.forPath(spark, dir)
    t.deleteWhere(col("part") === "y")
    val after = spark.sql(s"SHOW PARTITIONS graft.`$dir`")
      .collect().map(_.getString(0)).toSeq
    assert(after == Seq("part=__HIVE_DEFAULT_PARTITION__", "part=x"))
    // unpartitioned tables are rejected
    val flat = tmp()
    Seq((1L, "a")).toDF("id", "v").write.format("graft-delta").save(flat)
    val ex = intercept[Exception](spark.sql(s"SHOW PARTITIONS graft.`$flat`").collect())
    assert(ex.getMessage.contains("not partitioned"))
  }

  test("GENERATE symlink_format_manifest writes per-partition manifests") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = tmp()
    Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"))
      .toDF("id", "v", "part")
      .write.format("graft-delta").partitionBy("part").save(dir)
    spark.sql(s"GENERATE symlink_format_manifest FOR TABLE graft.`$dir`")
    val root = java.nio.file.Paths.get(dir, "_symlink_format_manifest")
    def manifest(p: String): Seq[String] =
      java.nio.file.Files.readAllLines(root.resolve(p).resolve("manifest"))
        .asScala.toSeq
    val t = DeltaTable.forPath(spark, dir)
    val live = t.deltaLog.update().allFiles
      .map(_.path).map(p => java.net.URLDecoder.decode(p, "UTF-8")).toSet
    for (p <- Seq("part=p1", "part=p2")) {
      val uris = manifest(p)
      assert(uris.nonEmpty, s"empty manifest for $p")
      assert(uris.forall(_.startsWith("file:")), "URIs must be absolute")
      assert(uris.forall(u => live.exists(u.endsWith)),
        s"manifest for $p lists a non-live file")
      assert(uris.forall(_.contains(s"/$p/")))
    }
    // regeneration after DML replaces the tree (no stale entries)
    t.deleteWhere(col("part") === "p2")
    t.generateSymlinkManifest()
    assert(!java.nio.file.Files.exists(root.resolve("part=p2")),
      "dropped partition keeps no stale manifest")
    val live1 = t.deltaLog.update().allFiles
      .map(_.path).map(p => java.net.URLDecoder.decode(p, "UTF-8")).toSet
    assert(manifest("part=p1").forall(u => live1.exists(u.endsWith)))
    // deletion-vector tables are rejected (symlink readers see raw files)
    val dv = tmp()
    val tdv = DeltaTable.forPath(spark, dv)
    val dvDf = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val dvTxn = tdv.deltaLog.startTransaction()
    dvTxn.updateMetadata(graft.delta.Metadata(
      schemaString = dvDf.schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    dvTxn.commit(Nil, Op.CreateTable)
    tdv.write(dvDf.coalesce(1))
    tdv.delete(col("id") === 1L)
    val ex = intercept[IllegalArgumentException](tdv.generateSymlinkManifest())
    assert(ex.getMessage.contains("deletion vectors"))
    // shallow clones (absolute AddFile paths) are rejected: the manifest
    // dirs would land inside the SOURCE table's directories
    val cloneDir = tmp()
    DeltaTable.forPath(spark, dir).shallowCloneTo(cloneDir)
    val exc = intercept[IllegalArgumentException](
      DeltaTable.forPath(spark, cloneDir).generateSymlinkManifest())
    assert(exc.getMessage.contains("absolute"))
  }

  test("CREATE TABLE (cols) USING graft-delta initializes the log") {
    freshTable("t_ddl")
    spark.sql("""CREATE TABLE t_ddl (id BIGINT, name STRING, score INT, part STRING)
      USING `graft-delta` PARTITIONED BY (part)
      TBLPROPERTIES ('delta.checkpointInterval' = '5')""")
    // the log exists BEFORE any insert, with schema + partitioning + props
    val loc = spark.sql("DESCRIBE DETAIL t_ddl").head().getAs[String]("location")
    val t = DeltaTable.forPath(spark, loc)
    val md = t.snapshot.metadata
    assert(md.schema.fieldNames.toSeq == Seq("id", "name", "score", "part"))
    assert(md.partitionColumns == Seq("part"))
    assert(md.configuration.get("delta.checkpointInterval").contains("5"))
    spark.sql("INSERT INTO t_ddl VALUES (1, 'alice', 10, 'x'), (2, 'bob', 20, 'y')")
    assert(spark.table("t_ddl").count() == 2)
    assert(t.history().exists(_.operation == "CREATE_TABLE"))
    // IF NOT EXISTS is a no-op, plain re-create fails
    spark.sql("CREATE TABLE IF NOT EXISTS t_ddl (id BIGINT) USING `graft-delta`")
    assert(spark.table("t_ddl").count() == 2)
    intercept[Exception] {
      spark.sql("CREATE TABLE t_ddl (id BIGINT) USING `graft-delta`")
    }
  }

  test("CTAS through the metastore lands in the transaction log") {
    freshTable("t_ctas")
    seed().createOrReplaceTempView("seed_rows")
    spark.sql("CREATE TABLE t_ctas USING `graft-delta` AS SELECT * FROM seed_rows")
    assert(spark.table("t_ctas").count() == 5)
    val loc = spark.sql("DESCRIBE DETAIL t_ctas").head().getAs[String]("location")
    assert(DeltaTable.isDeltaTable(spark, loc))
  }

  test("REORG TABLE APPLY (PURGE) materializes deletion vectors only") {
    import graft.delta.DeletionVectors
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = seed().schema.json,
      configuration = Map("delta.enableDeletionVectors" -> "true")))
    txn.commit(Nil, Op.CreateTable)
    t.write(seed().coalesce(1))                       // clean file A
    t.write(seed().withColumn("id", col("id") + 10).coalesce(1)) // file B
    t.delete(col("id") === 12)                        // DV on file B only
    val cleanPath = t.snapshot.allFiles
      .filter(f => DeletionVectors.descriptor(f).isEmpty).map(_.path)
    assert(cleanPath.size == 1)
    spark.sql(s"REORG TABLE graft.`$dir` APPLY (PURGE)")
    val after = t.snapshot.allFiles
    assert(after.forall(f => DeletionVectors.descriptor(f).isEmpty),
      "no descriptors may survive a purge")
    assert(after.map(_.path).intersect(cleanPath) == cleanPath,
      "clean files must not be rewritten")
    assert(t.toDF.count() == 9)
    // idempotent: nothing left to purge -> no new commit
    val v = t.snapshot.version
    spark.sql(s"REORG TABLE graft.`$dir` APPLY (PURGE)")
    assert(t.snapshot.version == v)
  }

  test("VACUUM DRY RUN reports candidates without deleting") {
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(seed())                                  // v0
    t.write(seed(), org.apache.spark.sql.SaveMode.Overwrite) // v1: old files orphaned
    val dry = spark.sql(s"VACUUM graft.`$dir` RETAIN 0 HOURS DRY RUN")
      .collect().map(_.getString(1))
    assert(dry.nonEmpty, "overwrite must orphan at least one file")
    dry.foreach(p => assert(new java.io.File(p).exists(), s"dry run must not delete $p"))
    val real = spark.sql(s"VACUUM graft.`$dir` RETAIN 0 HOURS")
      .collect().map(_.getString(1))
    assert(real.sorted.toSeq == dry.sorted.toSeq, "real run deletes exactly the dry-run report")
    dry.foreach(p => assert(!new java.io.File(p).exists(), s"real run must delete $p"))
    assert(t.toDF.count() == 5)
  }

  test("CREATE TABLE / CTAS ... CLUSTER BY declare clustering at creation") {
    // creation DDL is the common entry point for liquid tables: the
    // created log must already carry delta.clusteringColumns (A44), so
    // the FIRST plain OPTIMIZE clusters without an ALTER in between
    freshTable("t_cb")
    spark.sql("""CREATE TABLE t_cb (id BIGINT, score INT, g STRING)
      USING `graft-delta` CLUSTER BY (g, score)""")
    val loc = spark.sql("DESCRIBE DETAIL t_cb").head().getAs[String]("location")
    val t = DeltaTable.forPath(spark, loc)
    val cfg = t.snapshot.metadata.configuration
    assert(cfg.get("delta.clusteringColumns").contains("g,score"), cfg.toString)
    // the raw catalog-property JSON must not leak into the log config
    assert(!cfg.contains("clusteringColumns"), cfg.toString)
    spark.sql("INSERT INTO t_cb SELECT id, CAST(id % 7 AS INT), " +
      "CAST(id % 3 AS STRING) FROM range(100)")
    spark.sql("INSERT INTO t_cb SELECT id, CAST(id % 5 AS INT), " +
      "CAST(id % 2 AS STRING) FROM range(100, 200)")
    spark.sql("OPTIMIZE t_cb").collect()
    val hist = spark.sql("DESCRIBE HISTORY t_cb LIMIT 1").head()
    assert(hist.getString(hist.fieldIndex("operation")) == Op.Optimize)
    assert(spark.table("t_cb").count() == 200)
    // DESCRIBE DETAIL surfaces the declaration
    val det = spark.sql("DESCRIBE DETAIL t_cb").head()
    assert(det.getSeq[String](det.fieldIndex("clusteringColumns")) ==
      Seq("g", "score"))
    // CTAS face: same declaration through the AS SELECT path
    freshTable("t_cb2")
    spark.sql("""CREATE TABLE t_cb2 USING `graft-delta` CLUSTER BY (g)
      AS SELECT id, CAST(id % 3 AS STRING) AS g FROM range(100)""")
    val loc2 = spark.sql("DESCRIBE DETAIL t_cb2").head().getAs[String]("location")
    val t2 = DeltaTable.forPath(spark, loc2)
    assert(t2.snapshot.metadata.configuration
      .get("delta.clusteringColumns").contains("g"))
    assert(spark.table("t_cb2").count() == 100)
    // unknown clustering column is rejected at creation
    freshTable("t_cb3")
    intercept[Exception] {
      spark.sql("CREATE TABLE t_cb3 (id BIGINT) USING `graft-delta` CLUSTER BY (nope)")
    }
    assert(!spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier("t_cb3")))
  }

  test("ALTER TABLE CLUSTER BY: metadata-only declare, OPTIMIZE re-clusters, NONE clears") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    // deliberately interleaved key ranges across two files
    t.write((0L until 100L).map(i => (i % 10, i)).toDF("k", "v"))
    t.write((0L until 100L).map(i => ((i + 5) % 10, i + 100)).toDF("k", "v"))
    val vBefore = t.deltaLog.update().version
    spark.sql(s"ALTER TABLE graft.`$dir` CLUSTER BY (k)").collect()
    // declare is metadata-only: one commit, zero files rewritten
    assert(t.deltaLog.update().version == vBefore + 1)
    assert(t.snapshot.metadata.configuration("delta.clusteringColumns") == "k")
    val hist = spark.sql(s"DESCRIBE HISTORY graft.`$dir` LIMIT 1").collect()
    assert(hist.head.getString(hist.head.fieldIndex("operation")) == Op.ClusterBy)
    // plain OPTIMIZE now re-clusters along k: the two files' k-ranges
    // were fully overlapping before; afterwards file count is 1 (small
    // table bin) and the data is sorted by k within it
    spark.sql(s"OPTIMIZE graft.`$dir`").collect()
    assert(t.toDF.count() == 200)
    // NONE clears the declaration
    spark.sql(s"ALTER TABLE graft.`$dir` CLUSTER BY NONE").collect()
    assert(!t.snapshot.metadata.configuration.contains("delta.clusteringColumns"))
    // unknown column and partition column are rejected
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`$dir` CLUSTER BY (nope)").collect()
    }
    val pDir = tmp()
    val pt = DeltaTable.forPath(spark, pDir)
    pt.write(Seq((1L, "a"), (2L, "b")).toDF("id", "part"),
      org.apache.spark.sql.SaveMode.Append, Seq("part"))
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`$pDir` CLUSTER BY (part)").collect()
    }
  }

  test("COMMENT ON TABLE and ALTER COLUMN COMMENT persist through the log and checkpoint") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    spark.sql(s"COMMENT ON TABLE graft.`$dir` IS 'it''s the fact table'").collect()
    assert(t.snapshot.metadata.description == "it's the fact table")
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN name COMMENT 'display name'").collect()
    assert(t.snapshot.metadata.schema("name").getComment().contains("display name"))
    // comments live in metaData.description / the schema JSON: a fresh
    // log replay (cache bypassed) reconstructs them
    val fresh = new graft.delta.DeltaLog(spark, t.deltaLog.dataPath).update()
    assert(fresh.metadata.description == "it's the fact table")
    assert(fresh.metadata.schema("name").getComment().contains("display name"))
    // DESCRIBE (through a catalog table) surfaces the column comment
    freshTable("commented")
    spark.sql(s"CREATE TABLE commented USING `graft-delta` LOCATION '$dir'")
    val desc = spark.sql("DESCRIBE TABLE commented").collect()
      .map(r => (r.getString(0), r.getString(2))).toMap
    assert(desc.get("name").contains("display name"))
    // NULL clears both
    spark.sql(s"COMMENT ON TABLE graft.`$dir` IS NULL").collect()
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN name COMMENT NULL").collect()
    assert(t.snapshot.metadata.description == null)
    assert(t.snapshot.metadata.schema("name").getComment().isEmpty)
    // unknown column rejected
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN nope COMMENT 'x'").collect()
    }
  }

  test("ALTER COLUMN TYPE widens losslessly, metadata-only; lossy rejected") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(Seq((1, 1.5f), (2, 2.5f)).toDF("id", "x"))
    // gate: widening must be enabled
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN id TYPE BIGINT").collect()
    }
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES " +
      "('delta.enableTypeWidening' = 'true')")
    val filesBefore = t.snapshot.allFiles.map(_.path).toSet
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN id TYPE BIGINT").collect()
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN x TYPE DOUBLE").collect()
    val schema = t.snapshot.metadata.schema
    assert(schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    // metadata-only: same physical files, old narrow data promotes on read
    assert(t.snapshot.allFiles.map(_.path).toSet == filesBefore)
    assert(t.toDF.select(sum($"id")).head().getLong(0) == 3L)
    // lossy narrowing rejected
    intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN id TYPE INT").collect()
    }
  }

  test("the delegating parser leaves ordinary SQL alone") {
    assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) == 2)
    assert(spark.sql("DESCRIBE FUNCTION abs").count() > 0)
    intercept[Exception](spark.sql("OPTIMIZE")) // incomplete statement still errors
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    import org.apache.spark.sql.SaveMode
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    t.write(seed())                                         // v0: 5 rows
    // timestamp travel resolves against commit-file mtime (no ICT here)
    val fs = t.deltaLog.logPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tsAfterV0 = new java.sql.Timestamp(fs.getFileStatus(
      graft.delta.FileNames.deltaFile(t.deltaLog.logPath, 0)).getModificationTime)
    Thread.sleep(5)
    t.write(seed().filter(col("id") <= 2L), SaveMode.Overwrite) // v1: 2 rows
    // path form
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$dir` VERSION AS OF 0")
      .head().getLong(0) == 5)
    assert(spark.sql(s"SELECT count(*) AS c FROM graft.`$dir` VERSION AS OF 1")
      .head().getLong(0) == 2)
    assert(spark.sql(
      s"SELECT count(*) AS c FROM graft.`$dir` TIMESTAMP AS OF '$tsAfterV0'")
      .head().getLong(0) == 5)
    // catalog-table form, with projection + filter on the historical scan
    freshTable("t_tt")
    seed().write.format("graft-delta").saveAsTable("t_tt")
    spark.sql("DELETE FROM t_tt WHERE id >= 3")
    assert(spark.table("t_tt").count() == 2)
    assert(spark.sql("SELECT id FROM t_tt VERSION AS OF 0 WHERE score >= 30")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L))
    // current reads are unaffected
    assert(spark.sql("SELECT count(*) AS c FROM t_tt").head().getLong(0) == 2)
  }

  test("CREATE TABLE ... SHALLOW CLONE by path and into the catalog") {
    import org.apache.spark.sql.SaveMode
    val srcDir = tmp()
    val src = DeltaTable.forPath(spark, srcDir)
    src.write(seed())
    // path target
    val dstDir = tmp() + "/clone"
    spark.sql(s"CREATE TABLE graft.`$dstDir` SHALLOW CLONE graft.`$srcDir`")
    val clone = DeltaTable.forPath(spark, dstDir)
    assert(clone.toDF.count() == 5)
    // DML on the clone must not touch the source
    clone.delete(col("id") === 1L)
    assert(clone.toDF.count() == 4 && src.toDF.count() == 5)
    // catalog target: registered as a managed graft-delta table
    freshTable("t_clone")
    spark.sql(s"CREATE TABLE t_clone SHALLOW CLONE graft.`$srcDir`")
    assert(spark.table("t_clone").count() == 5)
    assert(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("t_clone"))
      .provider.contains("graft-delta"))
    // IF NOT EXISTS is a no-op on an existing target
    spark.sql(s"CREATE TABLE IF NOT EXISTS t_clone SHALLOW CLONE graft.`$srcDir`")
    // source keeps evolving independently
    src.write(seed(), SaveMode.Append)
    assert(spark.table("t_clone").count() == 5)
  }

  test("CONVERT TO DELTA iceberg.`path` adopts an Iceberg table in place") {
    val dir = tmp() + "/icetab"
    val t0 = DeltaTable.forPath(spark, dir)
    val txn = t0.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = seed().schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, graft.delta.Op.CreateTable)
    t0.write(seed(), partitionBy = Seq("part"))
    // drop the Delta identity: a pure Iceberg table remains
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    logDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(logDir, true)
    val v = spark.sql(s"CONVERT TO DELTA iceberg.`$dir`").head().getLong(0)
    assert(v == 0L)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF.count() == 5)
    assert(t.snapshot.metadata.partitionColumns == Seq("part"))
    // manifest-derived stats survived (no footer was opened)
    assert(t.snapshot.allFiles.forall(f =>
      graft.delta.Stats.numRecords(f.stats).isDefined))
  }

  test("SHALLOW CLONE iceberg.`src` mirrors out-of-place; DEEP refuses") {
    val dir = tmp() + "/icemirror"
    val t0 = DeltaTable.forPath(spark, dir)
    val txn = t0.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = seed().schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, graft.delta.Op.CreateTable)
    t0.write(seed(), partitionBy = Seq("part"))
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    logDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(logDir, true)
    val tgt = tmp() + "/mirror-tgt"
    val loc = spark.sql(
      s"CREATE TABLE graft.`$tgt` SHALLOW CLONE iceberg.`$dir`")
      .head().getString(0)
    assert(loc == tgt)
    val m = DeltaTable.forPath(spark, tgt)
    assert(m.toDF.count() == 5)
    // out of place: the source got no _delta_log, the target's AddFiles
    // reference the source absolutely
    assert(!new java.io.File(dir, "_delta_log").exists())
    assert(m.snapshot.allFiles.forall(_.path.contains(dir)))
    // IF NOT EXISTS over the existing mirror is a no-op, not a re-sync
    val v = m.deltaLog.update().version
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS graft.`$tgt` SHALLOW CLONE iceberg.`$dir`")
    assert(DeltaTable.forPath(spark, tgt).deltaLog.update().version == v)
    // plain CREATE over the existing mirror REFUSES (a CREATE statement
    // must never silently re-sync; same semantics as the delta clone)
    val e0 = intercept[IllegalStateException] {
      spark.sql(s"CREATE TABLE graft.`$tgt` SHALLOW CLONE iceberg.`$dir`")
    }
    assert(e0.getMessage.contains("already exists"))
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft.`${tmp()}` DEEP CLONE iceberg.`$dir`")
    }
    assert(e.getMessage.contains("DEEP CLONE of an Iceberg source"))
    // catalog-name target: mirror into the managed location, then the
    // catalog entry registers from the ADOPTED schema
    spark.sql(s"CREATE TABLE t_icemirror SHALLOW CLONE iceberg.`$dir`")
    try {
      assert(spark.table("t_icemirror").count() == 5)
    } finally spark.sql("DROP TABLE IF EXISTS t_icemirror")
  }

  test("SHALLOW CLONE iceberg VERSION AS OF '<ref>' pins the mirror to a branch") {
    val dir = tmp() + "/icebranch"
    val t0 = DeltaTable.forPath(spark, dir)
    val txn = t0.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = seed().schema.json,
      partitionColumns = Seq("part"),
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, graft.delta.Op.CreateTable)
    t0.write(seed(), partitionBy = Seq("part"))     // iceberg snapshot 2
    t0.write(seed(), partitionBy = Seq("part"))     // iceberg snapshot 3
    // stamp refs: audit trails at snapshot 2
    val metaDir = new java.io.File(dir, "metadata")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = new String(Files.readAllBytes(
      metaDir.toPath.resolve("version-hint.text"))).trim
    val mpath = metaDir.toPath.resolve(s"v$hint.metadata.json")
    val root = mapper.readTree(Files.readAllBytes(mpath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.putObject("refs").putObject("audit")
      .put("snapshot-id", 2L).put("type", "branch")
    Files.deleteIfExists(metaDir.toPath.resolve(s".v$hint.metadata.json.crc"))
    Files.write(mpath,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    val logDir = new org.apache.hadoop.fs.Path(dir, "_delta_log")
    logDir.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(logDir, true)
    val tgt = tmp() + "/branch-tgt"
    spark.sql(s"CREATE TABLE graft.`$tgt` SHALLOW CLONE iceberg.`$dir` " +
      "VERSION AS OF 'audit'")
    val m = DeltaTable.forPath(spark, tgt)
    assert(m.toDF.count() == 5, "the audit branch sees only batch 1")
    assert(m.deltaLog.update().metadata.configuration
      .get("graft.convert.icebergRef").contains("audit"))
    // a string ref on a DELTA source refuses loudly
    val srcDelta = tmp() + "/plaindelta"
    DeltaTable.forPath(spark, srcDelta).write(seed())
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft.`${tmp()}` SHALLOW CLONE " +
        s"graft.`$srcDelta` VERSION AS OF 'audit'")
    }
    assert(e.getMessage.contains("NAMED Iceberg ref"), e.getMessage)
  }

  test("ANALYZE TABLE COMPUTE STATISTICS exports NDV sketches (path target)") {
    val dir = tmp() + "/analyzetab"
    val t0 = DeltaTable.forPath(spark, dir)
    val txn = t0.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = seed().schema.json,
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, graft.delta.Op.CreateTable)
    t0.write(seed())
    val p = spark.sql(
      s"ANALYZE TABLE delta.`$dir` COMPUTE STATISTICS FOR COLUMNS id")
      .head().getString(0)
    assert(p.endsWith(".stats"), p)
    val blobs = graft.delta.IcebergPuffin.readStatsBlobs(
      new org.apache.hadoop.fs.Path(p),
      spark.sessionState.newHadoopConf())
    assert(blobs.size == 1)
    assert(blobs.head._2 == seed().select("id").distinct().count())
    // Spark's own ANALYZE on catalog identifiers is untouched
    spark.sql("CREATE TABLE IF NOT EXISTS t_plain_an (x INT) USING parquet")
    try spark.sql("ANALYZE TABLE t_plain_an COMPUTE STATISTICS")
    finally spark.sql("DROP TABLE IF EXISTS t_plain_an")
  }

  test("ALTER TABLE CREATE/DROP TAG publishes Iceberg refs") {
    val dir = tmp() + "/reftab"
    val t0 = DeltaTable.forPath(spark, dir)
    val txn = t0.deltaLog.startTransaction()
    txn.updateMetadata(graft.delta.Metadata(
      schemaString = seed().schema.json,
      configuration = Map(
        "delta.universalFormat.enabledFormats" -> "iceberg")))
    txn.commit(Nil, graft.delta.Op.CreateTable)
    t0.write(seed())
    spark.sql(s"ALTER TABLE delta.`$dir` CREATE TAG rel-1")
    spark.sql(s"ALTER TABLE delta.`$dir` CREATE BRANCH audit AS OF VERSION 2")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def refs(): Map[String, (Long, String)] = {
      val metaDir = new java.io.File(dir, "metadata")
      val hint = new String(Files.readAllBytes(
        metaDir.toPath.resolve("version-hint.text"))).trim
      val root = mapper.readTree(Files.readAllBytes(
        metaDir.toPath.resolve(s"v$hint.metadata.json")))
      import scala.jdk.CollectionConverters._
      Option(root.get("refs")).map(_.fields().asScala.map(e =>
        e.getKey -> (e.getValue.get("snapshot-id").asLong,
          e.getValue.get("type").asText)).toMap).getOrElse(Map.empty)
    }
    val r = refs()
    assert(r("rel-1")._2 == "tag" && r("rel-1")._1 == 2L, r)
    assert(r("audit") == (2L, "branch"), r)
    spark.sql(s"ALTER TABLE delta.`$dir` DROP TAG rel-1")
    assert(!refs().contains("rel-1"))
    assert(refs().contains("audit"))
    // unknown ref refuses
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"ALTER TABLE delta.`$dir` DROP BRANCH nope")
    }
    assert(e.getMessage.contains("no Iceberg ref"), e.getMessage)
  }

  test("CONVERT TO DELTA adopts a parquet directory in place") {
    val dir = tmp() + "/plainpq"
    seed().write.partitionBy("part").parquet(dir)
    val v = spark.sql(s"CONVERT TO DELTA parquet.`$dir`").head().getLong(0)
    assert(v == 0L)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.toDF.count() == 5)
    assert(t.snapshot.metadata.partitionColumns == Seq("part"))
    // files were adopted, not rewritten: every AddFile lives under a
    // hive partition dir and carries footer stats
    val files = t.snapshot.allFiles
    assert(files.nonEmpty && files.forall(_.path.contains("part=")))
    assert(files.forall(f => graft.delta.Stats.numRecords(f.stats).isDefined))
    // the converted table is transactional: DML + partition-pruned scans
    t.delete(col("id") === 5L)
    assert(t.toDF.count() == 4)
    assert(spark.sql(s"SELECT id FROM graft.`$dir` WHERE part = 'x'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // double convert is rejected
    intercept[IllegalArgumentException] {
      spark.sql(s"CONVERT TO DELTA parquet.`$dir`")
    }
  }

  test("table_changes TVF returns the row-level change feed") {
    freshTable("t_tvf")
    seed().write.format("graft-delta").saveAsTable("t_tvf")   // v0
    spark.sql("DELETE FROM t_tvf WHERE id <= 2")              // v1
    val rows = spark.sql(
      "SELECT id, _change_type, _commit_version FROM table_changes('t_tvf', 1) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq((1L, "delete", 1L), (2L, "delete", 1L)))
    // path form + joinable like any relation
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("t_tvf"))
      .location.toString
    val n = spark.sql(
      s"SELECT count(*) AS c FROM table_changes('$loc', 0, 0) WHERE _change_type = 'insert'")
      .head().getLong(0)
    assert(n == 5)
    // timestamp bounds resolve through the commit-timestamp index:
    // a start before the first commit covers everything; pinning both
    // bounds to the epoch..far-future brackets the whole feed
    val all = spark.sql("SELECT count(*) AS c FROM table_changes(" +
      "'t_tvf', '1970-01-01 00:00:00', '2999-01-01 00:00:00')").head().getLong(0)
    assert(all == 7, s"expected 5 inserts + 2 deletes, got $all")
  }
}
