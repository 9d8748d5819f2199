package graft.delta

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Incremental (ZCube-style) clustering: plain OPTIMIZE on a clustered
  * table must NOT re-cluster the whole scope every run — at 100 TB that
  * makes nightly maintenance cost O(table) instead of O(new data).
  * Clustered outputs are stamped with ZCUBE_* AddFile tags (the open
  * delta-spark convention); the next OPTIMIZE rewrites only untagged
  * files (new appends / stale clustering specs), DV-carrying files, and
  * cubes still below `delta.clustering.minCubeSize`; a single small cube
  * with no new data commits NOTHING. `OPTIMIZE ... FULL` stays the
  * explicit whole-table rewrite.
  */
class IncrementalClusteringSuite extends AnyFunSuite with SharedSpark {

  private def tmp(): String = Files.createTempDirectory("graft-zcube").toString

  private def mkClustered(minCube: Option[Long] = None): DeltaTable = {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val df = (0L until 64L).map(i => (i, i % 7, s"r$i")).toDF("a", "b", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df.schema.json,
      configuration = Map("delta.clusteringColumns" -> "a,b") ++
        minCube.map(m => "delta.clustering.minCubeSize" -> m.toString)))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.repartition(4))
    t
  }

  private def cubeIds(t: DeltaTable): Set[String] =
    t.snapshot.allFiles
      .flatMap(f => Option(f.tags).getOrElse(Map.empty).get(ZCube.IdTag))
      .toSet

  test("first OPTIMIZE clusters everything and stamps ZCUBE tags") {
    val t = mkClustered()
    t.compact()
    val fs = t.snapshot.allFiles
    assert(fs.nonEmpty)
    assert(fs.forall(f => Option(f.tags).exists(tg =>
      tg.contains(ZCube.IdTag) && tg.get(ZCube.SpecTag).contains("a,b"))),
      fs.map(_.tags).toString)
    assert(cubeIds(t).size == 1)
  }

  test("second OPTIMIZE with no new writes commits nothing") {
    val t = mkClustered()
    t.compact()
    val v1 = t.snapshot.version
    val v2 = t.compact()
    assert(v2 == v1, s"idle OPTIMIZE must be a no-op commit: $v1 -> $v2")
    assert(t.snapshot.version == v1)
  }

  test("new appends re-cluster only themselves when existing cubes are final") {
    import spark.implicits._
    // minCubeSize=1 byte: the first cube is immediately 'final'
    val t = mkClustered(minCube = Some(1L))
    t.compact()
    val cube1 = cubeIds(t)
    val before = t.snapshot.allFiles.map(_.path).toSet
    t.write((100L until 120L).map(i => (i, i % 7, s"n$i")).toDF("a", "b", "v")
      .repartition(2))
    t.compact()
    val fs = t.snapshot.allFiles
    // the final cube's files survive untouched; only the append rewrote
    assert(fs.filter(f => cubeIds(t).intersect(cube1)
        .exists(id => Option(f.tags).exists(_.get(ZCube.IdTag).contains(id))))
      .forall(f => before(f.path)),
      "files of the final cube were rewritten by an incremental OPTIMIZE")
    assert(cubeIds(t).size == 2, cubeIds(t).toString)
    assert(fs.forall(f => Option(f.tags).exists(_.contains(ZCube.IdTag))))
    // content intact
    assert(t.toDF.count() == 84L)
  }

  test("small cubes merge with new data; a changed spec invalidates old tags") {
    import spark.implicits._
    val t = mkClustered() // default minCubeSize (100 GB): every cube small
    t.compact()
    t.write((100L until 110L).map(i => (i, i % 7, s"n$i")).toDF("a", "b", "v"))
    t.compact()
    // small cube + new data -> ONE merged cube
    assert(cubeIds(t).size == 1, cubeIds(t).toString)
    // re-declare the clustering columns: old tags no longer match the
    // spec, so the next OPTIMIZE re-clusters (files count as untagged)
    t.clusterBy(Seq("b"))
    val v = t.snapshot.version
    t.compact()
    assert(t.snapshot.version > v, "stale-spec files must re-cluster")
    assert(t.snapshot.allFiles.forall(f =>
      Option(f.tags).exists(_.get(ZCube.SpecTag).contains("b"))))
    assert(t.toDF.count() == 74L)
  }

  test("OPTIMIZE FULL re-clusters final cubes; SQL surface routes both") {
    import spark.implicits._
    val t = mkClustered(minCube = Some(1L))
    t.compact()
    t.write((100L until 110L).map(i => (i, i % 7, s"n$i")).toDF("a", "b", "v"))
    t.compact()
    assert(cubeIds(t).size == 2)
    val dir = t.deltaLog.dataPath.toUri.getPath
    spark.sql(s"OPTIMIZE graft.`$dir` FULL").collect()
    val t2 = DeltaTable.forPath(spark, dir)
    assert(cubeIds(t2).size == 1, "FULL must fold everything into one cube")
    val ci = t2.deltaLog.commitInfoAt(t2.snapshot.version).get
    assert(ci.operationParameters.get("isFull").contains("true"))
    // idle incremental SQL OPTIMIZE after FULL: no-op
    val v = t2.snapshot.version
    spark.sql(s"OPTIMIZE graft.`$dir`").collect()
    assert(DeltaTable.forPath(spark, dir).snapshot.version == v)
    assert(t2.toDF.count() == 74L)
  }

  test("OPTIMIZE planning never materializes the file list on the driver") {
    import spark.implicits._
    // 12 single-file partitions: nothing to bin-pack. The plan must
    // discover that on executors — zero full-file-list collects — or a
    // 10^7-file table heaps the driver just to decide "no-op".
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val df = (0L until 12L).map(i => (i, s"r$i")).toDF("p", "v")
    t.write(df.repartition(col("p")), partitionBy = Seq("p"))
    val s = t.deltaLog.update()
    val v = s.version
    assert(t.compact() == v, "single-file partitions must be a no-op")
    assert(t.compact(col("p") < 6L) == v)
    assert(s.driverFileMaterializations.get() == 0L,
      s"OPTIMIZE planning collected the full AddFile list " +
        s"${s.driverFileMaterializations.get()} times")
    // incremental-clustering planning path too
    val t2 = mkClustered(minCube = Some(1L))
    t2.compact()
    val s2 = t2.deltaLog.update()
    t2.compact() // idle: must detect the no-op without driver file state
    assert(s2.driverFileMaterializations.get() == 0L)
  }

  test("OPTIMIZE WHERE composes with incremental clustering") {
    import spark.implicits._
    // partitioned + clustered table: WHERE scopes the partition, the
    // incremental rule applies inside it — an idle scoped re-run is a
    // no-op, and the out-of-scope partition is never touched
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    val df = (0L until 40L).map(i => (i % 2, i, s"r$i")).toDF("p", "a", "v")
    val txn = t.deltaLog.startTransaction()
    txn.updateMetadata(Metadata(schemaString = df.schema.json,
      partitionColumns = Seq("p"),
      configuration = Map("delta.clusteringColumns" -> "a",
        "delta.clustering.minCubeSize" -> "1")))
    txn.commit(Nil, Op.CreateTable)
    t.write(df.repartition(4), partitionBy = Seq("p"))
    val before = t.snapshot.allFiles.filter(_.partitionValues.get("p").contains("1"))
      .map(_.path).toSet
    t.compact(col("p") === 0L)
    val after = t.snapshot.allFiles
    // p=1 untouched, p=0 clustered + tagged
    assert(after.filter(_.partitionValues.get("p").contains("1"))
      .map(_.path).toSet == before, "out-of-scope partition was rewritten")
    assert(after.filter(_.partitionValues.get("p").contains("0"))
      .forall(f => Option(f.tags).exists(_.get(ZCube.SpecTag).contains("a"))))
    // idle scoped re-run: no-op
    val v = t.snapshot.version
    assert(t.compact(col("p") === 0L) == v)
    assert(t.toDF.count() == 40L)
  }

  test("OPTIMIZE records output file-size distribution metrics") {
    import spark.implicits._
    val dir = tmp()
    val t = DeltaTable.forPath(spark, dir)
    (0 until 3).foreach(i =>
      t.write((0L until 50L).map(j => (i * 100L + j, s"v$j")).toDF("a", "v")))
    t.compact()
    val m = t.deltaLog.commitInfoAt(t.snapshot.version).get.operationMetrics
    for (k <- Seq("minFileSize", "p50FileSize", "maxFileSize"))
      assert(m.get(k).exists(_.toLong > 0L), s"$k missing: $m")
    assert(m("minFileSize").toLong <= m("p50FileSize").toLong &&
      m("p50FileSize").toLong <= m("maxFileSize").toLong, m.toString)
  }

  test("DV-carrying files rewrite even inside a final cube") {
    import spark.implicits._
    val t = mkClustered(minCube = Some(1L))
    t.compact()
    // DV delete inside the final cube
    val dir = t.deltaLog.dataPath.toUri.getPath
    spark.sql(s"ALTER TABLE graft.`$dir` SET TBLPROPERTIES (" +
      "'delta.enableDeletionVectors' = 'true')")
    val txnV = t.snapshot.version
    t.delete(col("a") === 3L)
    assert(t.snapshot.version > txnV)
    val dvFiles = t.snapshot.allFiles
      .filter(f => DeletionVectors.descriptor(f).isDefined).map(_.path).toSet
    assert(dvFiles.nonEmpty, "fixture must produce a DV file")
    t.compact()
    val fs = t.snapshot.allFiles
    assert(fs.forall(f => DeletionVectors.descriptor(f).isEmpty),
      "incremental OPTIMIZE must purge DVs")
    assert(t.toDF.count() == 63L)
  }
}
