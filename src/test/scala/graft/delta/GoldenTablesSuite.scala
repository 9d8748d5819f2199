package graft.delta

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.testutil.SharedSpark

/** Protocol compatibility against the delta-standalone golden tables the
  * reference ships (reference `tests/golden/...`, consumed by its own
  * `snapshot_test.go`, `log_test.go`, `checkpoint_test.go`). These logs
  * were produced by the real Delta ecosystem — reading them proves the
  * wire-format compatibility of the action codec, checkpoint reader,
  * state reconstruction and time travel.
  */
class GoldenTablesSuite extends AnyFunSuite with SharedSpark {

  private val golden = "/root/reference/tests/golden"
  private def log(name: String): DeltaLog =
    DeltaLog.forTable(spark, s"$golden/$name")

  /** Independent, sequential driver-side replay of all JSON commits —
    * deliberately a different algorithm than Snapshot's DataFrame
    * max_by reconstruction, so the two cross-check each other.
    */
  private def replayJson(l: DeltaLog): (Long, Map[String, AddFile], Option[Metadata], Option[Protocol]) = {
    var active = Map.empty[String, AddFile]
    var md: Option[Metadata] = None
    var proto: Option[Protocol] = None
    val versions = l.listDeltaVersions()
    versions.foreach { v =>
      l.store.read(FileNames.deltaFile(l.logPath, v)).flatMap(Actions.fromJson).foreach {
        case a: AddFile => active += (a.path -> a)
        case r: RemoveFile => active -= r.path
        case m: Metadata => md = Some(m)
        case p: Protocol => proto = Some(p)
        case _ =>
      }
    }
    (versions.lastOption.getOrElse(-1L), active, md, proto)
  }

  private val stateTables = Seq(
    "snapshot-data0", "snapshot-data1", "snapshot-data2",
    "snapshot-data2-deleted", "snapshot-data3", "snapshot-repartitioned",
    "snapshot-vacuumed", "delete-re-add-same-file-different-transactions",
    "checkpoint", "deltalog-commit-info", "deltalog-getChanges")

  test("golden: snapshot state matches an independent sequential replay") {
    stateTables.foreach { name =>
      val l = log(name)
      val (expVersion, expActive, expMd, _) = replayJson(l)
      val snap = l.update()
      assert(snap.version == expVersion, s"$name version")
      val got = snap.allFiles.map(_.path).toSet
      assert(got == expActive.keySet, s"$name active files")
      expMd.foreach(m => assert(snap.metadata.id == m.id, s"$name metadata id"))
    }
  }

  test("golden: checkpoint table stitches _last_checkpoint + json tail") {
    val l = log("checkpoint")
    val md = Checkpoints.readLastCheckpoint(l.store, l.logPath)
    assert(md.isDefined, "_last_checkpoint must parse")
    val snap = l.update()
    assert(snap.segment.checkpoint.map(_.version).contains(md.get.version))
    assert(snap.segment.deltas.forall(_ > md.get.version))
    // metadata-only golden: 15 commits, one active (re-added) file "15"
    assert(snap.version == 14)
    assert(snap.allFiles.map(_.path) == Seq("15"))
  }

  test("golden: corrupted _last_checkpoint falls back to log listing") {
    val l = log("corrupted-last-checkpoint")
    val snap = l.update()
    assert(snap.version == l.listDeltaVersions().last)
    assert(snap.allFiles.nonEmpty)
  }

  test("golden: data readers (primitives, partition values) through toDF") {
    val prims = DeltaTable.forPath(spark, s"$golden/data-reader-primitives")
    val rows = prims.toDF
    assert(rows.count() > 0)
    assert(rows.columns.contains("as_int") || rows.columns.nonEmpty)

    val parts = DeltaTable.forPath(spark, s"$golden/data-reader-partition-values")
    val snapParts = parts.snapshot
    val partCols = snapParts.metadata.partitionColumns
    assert(partCols.nonEmpty, "golden partition table must be partitioned")
    val df = parts.toDF
    assert(df.count() > 0)
    assert(partCols.forall(df.columns.contains), "partition columns materialize")
    // partition pruning on a golden value
    val pv = snapParts.allFiles.head.partitionValues
    val (c, v) = pv.head
    if (v != null) {
      val scan = parts.scan(org.apache.spark.sql.functions.col(c) === v)
      assert(scan.pushedPredicates.nonEmpty)
      assert(scan.files.nonEmpty)
      assert(scan.files.forall(_.partitionValues(c) == v))
    }
  }

  test("golden: time travel versions (start / start20 / start40)") {
    val t = DeltaTable.forPath(spark, s"$golden/time-travel-start-start20-start40")
    assert(t.snapshot.version == 2)
    val c0 = t.toDF(0).count()
    val c1 = t.toDF(1).count()
    val c2 = t.toDF(2).count()
    assert(c0 < c1 && c1 < c2)
    assert(c1 == 2 * c0 && c2 == 3 * c0, "each version appends the same batch size")
  }

  test("golden: changes feed and commit info") {
    val l = log("deltalog-getChanges")
    val ch = l.changes(0L).toSeq
    assert(ch.map(_._1) == ch.indices.map(_.toLong))
    assert(ch.forall(_._2.nonEmpty))

    val ci = log("deltalog-commit-info").commitInfoAt(0L)
    assert(ci.isDefined)
    assert(ci.get.version.contains(0L))
  }

  test("golden: commitInfo provenance fields round-trip byte-stable") {
    // the golden commit was written by a Databricks-lineage writer and
    // carries the full provenance surface (reference action/job_info.go,
    // notebook_info.go, commit_info.go:16)
    val line = scala.io.Source
      .fromFile(s"$golden/deltalog-commit-info/_delta_log/00000000000000000000.json")
      .getLines().find(_.startsWith("{\"commitInfo\"")).get
    val ci = Actions.fromJson(line).get.asInstanceOf[CommitInfo]
    assert(ci.userId.contains("user_0"))
    assert(ci.userName.contains("username_0"))
    assert(ci.job.contains(JobInfo(Some("job_id_0"), Some("job_name_0"),
      Some("run_id_0"), Some("job_owner_0"), Some("trigger_type_0"))))
    assert(ci.notebook.contains(NotebookInfo(Some("notebook_id_0"))))
    assert(ci.clusterId.contains("cluster_id_0"))
    assert(ci.userMetadata.contains("foo"))
    assert(ci.readVersion.contains(-1L))
    // re-emission is byte-identical: nothing dropped, order preserved
    assert(Actions.toJson(ci) == line)
    // and the fields survive the history surface too
    val fromHistory = log("deltalog-commit-info").commitInfoAt(0L).get
    assert(fromHistory.job == ci.job && fromHistory.notebook == ci.notebook &&
      fromHistory.clusterId == ci.clusterId &&
      fromHistory.userMetadata == ci.userMetadata)
  }

  test("golden: partitioned time travel reads real partition data") {
    val t = DeltaTable.forPath(spark, s"$golden/time-travel-partition-changes-a")
    val snap = t.snapshot
    assert(snap.metadata.partitionColumns == Seq("part5"))
    val df = t.toDF
    assert(df.count() > 0)
    assert(df.columns.contains("part5"))
    val vals = df.select("part5").distinct().collect().map(_.get(0).toString).sorted
    assert(vals.toSeq == Seq("0", "1", "2", "3", "4"))
    // pruning on the golden partition layout
    import org.apache.spark.sql.functions.col
    val only2 = t.read(col("part5") === 2)
    assert(only2.select("part5").distinct().count() == 1)
  }

  test("golden: canonicalized paths (absolute + percent-encoded) resolve") {
    // metadata-only tables: validate path canonicalization, not data reads
    val ln = log("canonicalized-paths-normal-a")
    val normal = ln.update().allFiles
    assert(normal.map(_.path).contains("/some/unqualified/absolute/path"))
    assert(FileNames.absolutePath(ln.dataPath, normal.head.path).toString
      == "/some/unqualified/absolute/path")

    val ls = log("canonicalized-paths-special-a")
    val special = ls.update().allFiles
    val p = special.map(_.path).find(_.contains("%")).get
    // one percent-decode exactly: %20 -> space, %23 -> '#'
    val abs = FileNames.absolutePath(ls.dataPath, p).toUri.getPath
    assert(abs == "/some/unqualified/with space/p@#h", abs)
  }

  test("absolute URI paths with a query component round-trip byte-exactly") {
    import org.apache.hadoop.fs.Path
    val data = new Path("/tmp/tbl")
    val versioned = "s3://bucket/key/part-0.parquet?versionId=abc123"
    // Path.toString drops the ?query (Hadoop keeps it only via toUri) —
    // the string form must therefore bypass Path for absolute URIs
    assert(FileNames.absolutePath(data, versioned).toString
      == "s3://bucket/key/part-0.parquet")
    assert(FileNames.absolutePathString(data, versioned) == versioned)
    // and survives the Path(String) constructor spark.read applies
    assert(new Path(FileNames.absolutePathString(data, versioned)).toString
      == versioned)
    // relative children resolve exactly like absolutePath
    assert(FileNames.absolutePathString(data, "a=1/f.parquet")
      == FileNames.absolutePath(data, "a=1/f.parquet").toString)
    // raw pre-spec relative paths (illegal URI chars) still fall back
    assert(FileNames.absolutePathString(data, "dir with space/f f.parquet")
      == FileNames.absolutePath(data, "dir with space/f f.parquet").toString)
  }

  test("golden: unsupported reader protocol version is rejected") {
    val l = log("deltalog-invalid-protocol-version")
    val snap = l.update()
    assert(snap.protocol.minReaderVersion == 99)
    intercept[Snapshot.InvalidProtocolVersionException] { snap.assertProtocolRead() }
    intercept[Snapshot.InvalidProtocolVersionException] {
      DeltaTable.forPath(spark, s"$golden/deltalog-invalid-protocol-version").toDF
    }
  }

  test("golden: non-contiguous logs are rejected") {
    intercept[IllegalStateException] { log("versions-not-contiguous").update() }
  }

  test("golden: state reconstruction fails without metadata") {
    val l = log("deltalog-state-reconstruction-without-metadata")
    intercept[IllegalStateException] { l.update().metadata }
  }

  test("golden: log store reads and ordered listing on golden store dirs") {
    // these goldens are raw store fixtures: files "0","1",... at the root
    val store = new HadoopLogStore(spark.sessionState.newHadoopConf())
    val lines = store.read(new Path(s"$golden/log-store-read/0"))
    assert(lines == Seq("zero", "none"))
    val names = store.listFrom(new Path(s"$golden/log-store-listFrom/2"))
      .map(_.getPath.getName).filterNot(_.startsWith("_"))
    assert(names == Seq("2", "3"))
  }
}
