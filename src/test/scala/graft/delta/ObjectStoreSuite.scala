package graft.delta

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.{ObjectStoreFileSystem, SharedSpark}

/** Transaction-log protocol over OBJECT-STORE semantics.
  *
  * The reference integration-tests its S3/Azure/GCS stores against live
  * emulators (reference `docker-compose.yaml`, `store/s3_test.go:1`); a
  * zero-egress sandbox can't run those, so these specs bind
  * [[graft.testutil.ObjectStoreFileSystem]] — an in-memory FileSystem
  * with honest S3 semantics (flat keys, PUT-at-close visibility, NO
  * atomic create-if-absent, copy-then-delete rename) — to the real
  * `s3a` scheme and drive the REAL code paths: LogStore's scheme
  * dispatch, ExternalLogStore's coordinator claim/copy/recover protocol,
  * and the full DeltaTable lifecycle (Spark parquet job + commit +
  * checkpoint + time travel) against a store that offers none of the
  * filesystem atomicity the local-disk suites get for free.
  */
class ObjectStoreSuite extends AnyFunSuite with SharedSpark {

  override lazy val spark: SparkSession = {
    val s = SharedSpark.session
    // bind the scheme on the context's base hadoop conf, which every
    // newHadoopConf() clones
    s.sparkContext.hadoopConfiguration
      .set("fs.s3a.impl", classOf[ObjectStoreFileSystem].getName)
    s
  }

  private def hconf = spark.sessionState.newHadoopConf()

  private def sampleDF = {
    import spark.implicits._
    Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"), (4L, "d", "y"), (5L, "e", "z"))
      .toDF("id", "name", "part")
  }

  test("object store offers no atomic create-if-absent (check-then-put window)") {
    ObjectStoreFileSystem.clear()
    val p = new Path(s"s3a://race-${UUID.randomUUID()}/obj")
    val fs = p.getFileSystem(hconf)
    assert(fs.isInstanceOf[ObjectStoreFileSystem], s"scheme binding failed: ${fs.getClass}")
    // both writers pass the existence check before either PUT lands...
    val w1 = fs.create(p, false)
    val w2 = fs.create(p, false)
    w1.write("first".getBytes("UTF-8")); w1.close()
    w2.write("second".getBytes("UTF-8")); w2.close()
    // ...and the last close blindly wins: the store gave no mutual
    // exclusion. This is the exact unsoundness LogStore refuses to build
    // commits on.
    val in = fs.open(p)
    val buf = new Array[Byte](6)
    in.readFully(0L, buf); in.close()
    assert(new String(buf, "UTF-8") == "second")
  }

  test("LogStore.forTable refuses s3a without external coordination") {
    val e = intercept[IllegalArgumentException] {
      LogStore.forTable(spark, new Path(s"s3a://bkt-${UUID.randomUUID()}/tbl"))
    }
    assert(e.getMessage.contains("put-if-absent"))
  }

  test("flat keys list hierarchically; mkdirs is a no-op; dirs are virtual") {
    ObjectStoreFileSystem.clear()
    val root = new Path(s"s3a://list-${UUID.randomUUID()}/tbl")
    val fs = root.getFileSystem(hconf)
    // a "directory" does not exist until an object lives under it
    fs.mkdirs(new Path(root, "empty"))
    assert(!fs.exists(new Path(root, "empty")))
    for (k <- Seq("_delta_log/00000000000000000000.json",
        "_delta_log/00000000000000000001.json", "part-0.parquet")) {
      val out = fs.create(new Path(root, k), true)
      out.write("x".getBytes("UTF-8")); out.close()
    }
    val top = fs.listStatus(root).map(s => (s.getPath.getName, s.isDirectory)).toSeq
    assert(top == Seq(("_delta_log", true), ("part-0.parquet", false)))
    val log = fs.listStatus(new Path(root, "_delta_log")).map(_.getPath.getName).toSeq
    assert(log == Seq("00000000000000000000.json", "00000000000000000001.json"))
  }

  test("external store on s3a: coordinator arbitrates, loser never clobbers") {
    ObjectStoreFileSystem.clear()
    val dir = s"s3a://claim-${UUID.randomUUID()}/tbl/_delta_log"
    val coord = InMemoryCommitCoordinator.named(s"os-${UUID.randomUUID()}")
    val a = new ExternalLogStore(hconf, coord)
    val b = new ExternalLogStore(hconf, coord)
    val p0 = new Path(dir, "00000000000000000000.json")
    a.write(p0, Iterator("a1"))
    intercept[FileAlreadyExistsException] { b.write(p0, Iterator("b1")) }
    assert(b.read(p0) == Seq("a1"))
    assert(a.listFrom(new Path(dir, "0")).map(_.getPath.getName) ==
      Seq("00000000000000000000.json"))
  }

  test("external store on s3a: claimed-but-uncopied commit recovered by a reader") {
    ObjectStoreFileSystem.clear()
    val dir = s"s3a://recover-${UUID.randomUUID()}/tbl/_delta_log"
    val coord = InMemoryCommitCoordinator.named(s"os-${UUID.randomUUID()}")
    val a = new ExternalLogStore(hconf, coord)
    a.write(new Path(dir, "00000000000000000000.json"), Iterator("v0"))
    // the claim holder died after the temp PUT + claim, before the copy
    val fs = new Path(dir).getFileSystem(hconf)
    val temp = new Path(dir, ".tmp-dead-00000000000000000001.json")
    val out = fs.create(temp, true); out.write("v1\n".getBytes("UTF-8")); out.close()
    coord.putIfAbsent(ExternalCommitEntry(
      fs.makeQualified(new Path(dir)).toString, "00000000000000000001.json",
      temp.getName, complete = false, commitTime = 1L))
    val names = new ExternalLogStore(hconf, coord)
      .listFrom(new Path(dir, "0")).map(_.getPath.getName)
    assert(names == Seq("00000000000000000000.json", "00000000000000000001.json"))
    assert(new ExternalLogStore(hconf, coord)
      .read(new Path(dir, "00000000000000000001.json")) == Seq("v1"))
  }

  test("full table lifecycle over the object store: write, read, append, time travel, checkpoint") {
    ObjectStoreFileSystem.clear()
    spark.conf.set("spark.graft.logStore.coordinator", s"os-${UUID.randomUUID()}")
    try {
      import spark.implicits._
      val path = s"s3a://lifecycle-${UUID.randomUUID()}/tbl"
      val t = DeltaTable.forPath(spark, path)
      t.write(sampleDF, SaveMode.Append, Seq("part")) // v0: parquet job + commit, all on s3a
      assert(t.toDF.count() == 5)
      t.write(Seq((6L, "f", "z")).toDF("id", "name", "part"), SaveMode.Append) // v1
      assert(t.toDF.count() == 6)
      assert(t.toDF(0).count() == 5, "time travel to v0")
      assert(t.toDF.filter($"part" === "z").as[(Long, String, String)]
        .collect().map(_._1).sorted.toSeq == Seq(5L, 6L))
      // checkpoint on the object store, then a cold log replay from it
      // (a fresh DeltaLog bypasses the per-path JVM cache, like a new
      // driver attaching to the table)
      t.deltaLog.checkpoint(t.deltaLog.update())
      val coldLog = new DeltaLog(spark, new Path(path))
      val coldSnap = coldLog.update()
      assert(coldSnap.version == 1L)
      assert(coldSnap.allFiles.nonEmpty)
      // and the cached handle agrees with the cold replay
      assert(t.toDF.count() == 6)
    } finally spark.conf.unset("spark.graft.logStore.coordinator")
  }
}
