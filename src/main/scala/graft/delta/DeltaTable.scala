package graft.delta

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SaveMode, SparkSession}

/** Bounded VACUUM report: exact count, capped path sample — the full
  * 10^7-path listing never lands on the driver.
  */
final case class VacuumResult(deletedCount: Long, sample: Seq[String])

/** User-facing ACID table on top of the transaction log — the compute
  * layer the reference intentionally leaves to "the engine on top"
  * (reference README): read snapshots as DataFrames with partition
  * pruning, and write DataFrames as parquet + AddFile commits.
  */
class DeltaTable private (val spark: SparkSession, val deltaLog: DeltaLog) {

  def snapshot: Snapshot = deltaLog.update()

  // ------------------------------------------------------------------ read

  def toDF: DataFrame = readSnapshot(snapshot, None)

  def toDF(versionAsOf: Long): DataFrame =
    readSnapshot(deltaLog.snapshotForVersionAsOf(versionAsOf), None)

  def toDFAsOfTimestamp(timestampMillis: Long): DataFrame =
    readSnapshot(deltaLog.snapshotForTimestampAsOf(timestampMillis), None)

  /** Pruned read: partition conjuncts prune files before the scan, the
    * full predicate is re-applied so residuals push into parquet.
    */
  def read(predicate: Column): DataFrame =
    readSnapshot(snapshot, Some(predicate))

  def scan(predicate: Column): DeltaScan = DeltaScan(snapshot, Some(predicate))

  /** Reads go through [[DeltaFileIndex]]: a HadoopFsRelation whose file
    * listing is served from AddFile metadata, so planning touches no
    * filesystem and partition pruning + stats skipping happen inside
    * Catalyst. Scales to O(10^7) files where a driver-built path list
    * (spark.read.parquet(paths)) would re-stat every file.
    */
  /** The snapshot as a Catalyst file-source relation: the listing comes
    * from [[DeltaFileIndex]] (zero filesystem calls, partition pruning +
    * stats skipping in the planner) and columns carry PHYSICAL names.
    * Shared by [[readSnapshot]] and the `graft-delta` format's fast path.
    */
  private[graft] def baseRelationFor(
      s: Snapshot): org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    s.assertProtocolRead()
    val md = s.metadata
    ColumnMapping.prepareRead(spark, md)
    val partCols = md.partitionColumns
    // parquet files carry PHYSICAL column names under column mapping
    val dataSchema = org.apache.spark.sql.types.StructType(
      ColumnMapping.physicalSchema(md).filterNot(f => partCols.contains(f.name)))
    val index = new DeltaFileIndex(deltaLog, s)
    HadoopFsRelation(
      index, index.partitionSchema, dataSchema, None,
      new ParquetFileFormat(), Map.empty[String, String])(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  private[graft] def readSnapshot(s: Snapshot, predicate: Option[Column]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val relation = baseRelationFor(s)
    val md = s.metadata
    var df = org.apache.spark.sql.GraftShims
      .ofRows(spark, LogicalRelation(relation, isStreaming = false))
    // adopted Iceberg v3 initial-defaults: rows from files that predate a
    // defaulted column read the default, not null (per-file, tag-driven)
    if (ReadDefaults.defaultedFields(md).nonEmpty && s.defaultFillFiles.nonEmpty)
      df = ReadDefaults.fill(spark, deltaLog.dataPath, s.defaultFillFiles, md,
        df, DeletionVectors.normFp(org.apache.spark.sql.functions
          .col("_metadata.file_path")))
    // merge-on-read: drop DV-deleted rows before projecting _metadata away.
    // Gated on DESCRIPTOR PRESENCE, not the table property: the protocol
    // requires readers to honor DVs whenever files carry them (the
    // property only controls whether new DML CREATES them) — a converted
    // or property-unset table must never resurrect deleted rows. The
    // descriptor list is cached on the snapshot — no extra job per read.
    val dvd = s.dvFiles
    if (dvd.nonEmpty)
      df = DeletionVectors.filterDeleted(spark, deltaLog.dataPath, dvd, df)
    // LogicalRelation appends partition cols last; restore metadata order
    // and map physical names back to logical
    df = ColumnMapping.toLogical(md, df)
      .select(md.schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    predicate.foreach(p => df = df.filter(p))
    df
  }

  /** The table with its row-tracking identity columns: every table column
    * plus `row_id` (stable, table-unique) and `row_commit_version` (the
    * commit that produced the row's current version). Fresh ids come from
    * `baseRowId + <position in file>` via one broadcast join of the
    * file-info list against `_metadata.file_path`; files rewritten by
    * OPTIMIZE override them with their materialized columns. Files
    * written before row tracking was enabled read as NULL ids (enable at
    * creation, or rewrite once with OPTIMIZE, to backfill).
    */
  def toDFWithRowIds: DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val s = snapshot
    val md = s.metadata
    require(RowTracking.enabled(md),
      s"row tracking is not enabled on ${deltaLog.dataPath} (set delta.enableRowTracking=true)")
    val files = s.allFiles
    if (files.isEmpty)
      return readSnapshot(s, None)
        .withColumn("row_id", lit(null).cast("long"))
        .withColumn("row_commit_version", lit(null).cast("long"))
    rowIdResolved(files, md)
      .withColumnRenamed("__rt_row_id", "row_id")
      .withColumnRenamed("__rt_rcv", "row_commit_version")
      .select((md.schema.fieldNames.toSeq :+ "row_id" :+ "row_commit_version")
        .map(col): _*)
  }

  /** Keyed read of `files` with row identity resolved into `__rt_row_id` /
    * `__rt_rcv` (all table columns present; `__fp`/`__ri` retained).
    */
  private[delta] def rowIdResolved(files: Seq[AddFile], md: Metadata): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // rejects tables whose ids were materialized under foreign column names
    RowTracking.assertNoCollision(md)
    val mats = Seq(StructField(RowTracking.MatRowId, LongType),
      StructField(RowTracking.MatRowCommitVersion, LongType))
    val keyed = readFilesKeyed(files, md, mats)
    val infoRows = files.map(f => Row(
      normPath(FileNames.absolutePathString(deltaLog.dataPath, f.path)),
      f.baseRowId.map(Long.box).orNull,
      f.defaultRowCommitVersion.map(Long.box).orNull))
    val infoSchema = StructType(Seq(StructField("__rt_fp", StringType),
      StructField("__rt_base", LongType), StructField("__rt_dcv", LongType)))
    val info = spark.createDataFrame(infoRows.asJava, infoSchema)
    keyed.join(broadcast(info), col("__fp") === col("__rt_fp"), "left")
      .withColumn("__rt_row_id",
        coalesce(col(RowTracking.MatRowId), col("__rt_base") + col("__ri")))
      .withColumn("__rt_rcv",
        coalesce(col(RowTracking.MatRowCommitVersion), col("__rt_dcv")))
  }

  // ----------------------------------------------------- domain metadata

  /** Live metadata domains (domain -> configuration string). */
  def domainMetadata: Map[String, String] = snapshot.domainMetadata

  /** Set a named metadata domain in one commit. User domains must not use
    * the `delta.` system prefix; concurrent writers of the same domain
    * conflict (there is no merge for opaque configurations).
    */
  def setDomainMetadata(domain: String, configuration: String): Long = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' uses the reserved system prefix 'delta.'")
    val txn = deltaLog.startTransaction()
    txn.commit(Seq(DomainMetadata(domain, configuration)), Op.SetDomainMetadata,
      operationParameters = Map("domain" -> domain))
  }

  /** Tombstone a domain (no-op commit-free return when absent). */
  def removeDomainMetadata(domain: String): Long = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' uses the reserved system prefix 'delta.'")
    val txn = deltaLog.startTransaction()
    if (!txn.snapshot.domainMetadataMap.contains(domain)) return txn.readVersion
    txn.commit(Seq(DomainMetadata(domain, null, removed = true)),
      "REMOVE DOMAIN METADATA", operationParameters = Map("domain" -> domain))
  }

  // ------------------------------------------------------------- history

  /** cf. reference `history_manager.go`: newest-first commit infos. */
  def history(limit: Int = Int.MaxValue): Seq[CommitInfo] =
    deltaLog.listDeltaVersions().reverse.take(limit)
      .flatMap(v => deltaLog.commitInfoAt(v))

  def changes(startVersion: Long, failOnDataLoss: Boolean = false): Iterator[(Long, Seq[Action])] =
    deltaLog.changes(startVersion, failOnDataLoss)

  /** Change-data-feed read: the row-level changes between two versions as
    * a DataFrame of the table columns plus `_change_type`
    * (insert/delete/...), `_commit_version` and `_commit_timestamp`
    * (cf. reference `action/cdc.go` AddCDCFile + `version_log.go`
    * VersionLog — the reference surfaces per-version actions; this is the
    * row-level materialization a CDC consumer actually wants).
    *
    * Commits carrying AddCDCFile actions contribute exactly their CDC
    * files (which carry their own `_change_type` column, per the Delta
    * CDF layout); commits without them fall back to file-level semantics:
    * dataChange adds are inserts, dataChange removes are deletes (their
    * parquet is still present until VACUUM). Compaction rewrites
    * (dataChange=false) contribute nothing. One lazy scan per version in
    * the range — a CDF read is bounded by the version range the caller
    * asks for, never by table size.
    */
  def tableChanges(startVersion: Long, endVersion: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, element_at, lit, split, timestamp_millis}
    val current = deltaLog.update()
    val end = if (endVersion < 0L) current.version else endVersion
    require(startVersion >= 0 && startVersion <= end,
      s"invalid change range [$startVersion, $end]")
    val endSnap =
      if (end == current.version) current else deltaLog.snapshotForVersionAsOf(end)
    val schema = endSnap.metadata.schema
    val outCols = schema.fieldNames.toSeq :+ "_change_type"
    val tsOf = deltaLog.commits().toMap
    val abs = (p: String) => FileNames.absolutePathString(deltaLog.dataPath, p)

    // CDF resolves through PHYSICAL names under column mapping: data and
    // CDC files both store physical column names (stable across RENAME /
    // DROP COLUMN), so a range spanning a rename commit reads every file
    // consistently and presents rows under the END snapshot's logical
    // names — the contract pinned by ColumnMappingSuite. The __fname
    // join key is captured from _metadata BEFORE the logical projection.
    def readAs(paths: Seq[String], changeType: Option[String]): DataFrame = {
      val md = endSnap.metadata
      ColumnMapping.prepareRead(spark, md)
      val phys = ColumnMapping.physicalSchema(md)
      val readSchema = changeType match {
        case Some(_) => phys
        case None => // CDC files carry their own _change_type column
          phys.add("_change_type", org.apache.spark.sql.types.StringType)
      }
      val raw = spark.read.schema(readSchema)
        .option("basePath", deltaLog.dataPath.toString)
        .parquet(paths: _*)
        .withColumn("__fname",
          element_at(split(col("_metadata.file_path"), "/"), -1))
      var df = ColumnMapping.toLogical(md, raw,
        extra = Seq("__fname") ++
          (if (changeType.isEmpty) Seq("_change_type") else Nil))
      changeType.foreach(ct => df = df.withColumn("_change_type", lit(ct)))
      df
    }

    // One file-list bucket per change category; the plan gets ONE parquet
    // read per category for the whole range (not one per version — a 10^4
    // version range must not build a 10^4-way union). `_commit_version` /
    // `_commit_timestamp` are attached per file by a broadcast join on the
    // UUID part-file name; the rare name reused across versions within one
    // category (e.g. RESTORE re-adding a file it once added) falls back to
    // a per-version frame so attribution stays exact.
    case class Cat(changeType: Option[String]) {
      val entries = Seq.newBuilder[(Long, String)] // (version, absolute path)
      def frames(): Seq[DataFrame] = {
        val all = entries.result()
        if (all.isEmpty) return Nil
        val byName = all.groupBy { case (_, p) => p.substring(p.lastIndexOf('/') + 1) }
        val (unique, dup) = byName.partition(_._2.size == 1)
        val grouped =
          if (unique.isEmpty) Nil
          else {
            val meta = spark.createDataFrame(
              unique.toSeq.map { case (name, vs) =>
                (name, vs.head._1, tsOf.getOrElse(vs.head._1, 0L))
              }).toDF("__fname", "_commit_version", "__ts")
            Seq(readAs(unique.values.map(_.head._2).toSeq, changeType)
              .join(broadcast(meta), "__fname")
              .withColumn("_commit_timestamp", timestamp_millis(col("__ts"))))
          }
        val perVersion = dup.values.flatten.toSeq.groupBy(_._1).toSeq.map {
          case (v, es) =>
            readAs(es.map(_._2), changeType)
              .withColumn("_commit_version", lit(v))
              .withColumn("_commit_timestamp", timestamp_millis(lit(tsOf.getOrElse(v, 0L))))
        }
        (grouped ++ perVersion).map(_.select(
          (outCols :+ "_commit_version" :+ "_commit_timestamp").map(col): _*))
      }
    }
    val cdcCat = Cat(None)
    val insCat = Cat(Some("insert"))
    val delCat = Cat(Some("delete"))
    // absolute external paths (shallow-clone commits) can't go through the
    // basePath read — route them via readFilesDF, which attaches partition
    // values from the log instead of the hive paths (per version: clone
    // commits are rare and never dominate a range)
    val absFrames = Seq.newBuilder[DataFrame]

    deltaLog.changes(startVersion)
      .takeWhile(_._1 <= end)
      .foreach { case (v, actions) =>
        val cdc = actions.collect { case c: AddCDCFile => abs(c.path) }
        if (cdc.nonEmpty) cdcCat.entries ++= cdc.map((v, _))
        else {
          val insAll = actions.collect { case a: AddFile if a.dataChange => a }
          val delAll = actions.collect {
            case r: RemoveFile if r.dataChange =>
              AddFile(r.path, Option(r.partitionValues).getOrElse(Map.empty),
                r.size.getOrElse(0L), 0L, dataChange = true, tags = r.tags,
                deletionVector = r.deletionVector)
          }
          // merge-on-read commits remove+re-add the SAME data file with a
          // changed deletion vector; the row-level change is the DV diff,
          // not two whole-file frames. Newly-masked row ids become
          // "delete" rows, newly-unmasked ones (RESTORE back across a DV
          // delete) become "insert" rows — exact CDC without the table
          // ever enabling the change feed.
          val delByPath = delAll.map(f => f.path -> f).toMap
          val pairedPaths = insAll.map(_.path).toSet & delByPath.keySet
          val dvPairs = insAll.filter(a => pairedPaths(a.path) &&
            DeletionVectors.descriptor(a) !=
              DeletionVectors.descriptor(delByPath(a.path)))
          if (dvPairs.nonEmpty) {
            val stripped = dvPairs.map(a => a.copy(deletionVector = null,
              tags = Option(a.tags).map(_ - DeletionVectors.PathTag -
                DeletionVectors.CardinalityTag).orNull))
            val raw = readFilesKeyed(stripped, endSnap.metadata)
            val newRows = DeletionVectors.rowsDF(spark, deltaLog.dataPath, dvPairs)
            val oldRows = DeletionVectors.rowsDF(spark, deltaLog.dataPath,
              dvPairs.map(a => delByPath(a.path)))
            def dvDiffFrame(rows: Option[DataFrame], minus: Option[DataFrame],
                ct: String): Option[DataFrame] = {
              val diff = (rows, minus) match {
                case (None, _) => None
                case (Some(n), None) => Some(n)
                case (Some(n), Some(o)) => Some(n.join(o, Seq("fp", "ri"), "left_anti"))
              }
              diff.map(d => raw
                .join(d.select(col("fp").as("__fp"), col("ri").as("__ri")),
                  Seq("__fp", "__ri"))
                .withColumn("_change_type", lit(ct))
                .withColumn("_commit_version", lit(v))
                .withColumn("_commit_timestamp",
                  timestamp_millis(lit(tsOf.getOrElse(v, 0L))))
                .select((outCols :+ "_commit_version" :+ "_commit_timestamp").map(col): _*))
            }
            absFrames ++= dvDiffFrame(newRows, oldRows, "delete").toSeq
            absFrames ++= dvDiffFrame(oldRows, newRows, "insert").toSeq
          }
          val ins = insAll.filterNot(f => pairedPaths(f.path))
          val del = delAll.filterNot(f => pairedPaths(f.path))
          // DV-carrying files can't take the plain-parquet bucket either:
          // a removed file with a deletion vector (TRUNCATE, DELETE of an
          // already-DV-masked file) only deletes its LIVE rows — the
          // masked ids were reported as deletes by the commit that grew
          // the DV — and symmetrically an added file with a DV only
          // inserts live rows. readFilesDF applies the DV; per-version
          // frames are fine because whole-file DV removes are rare.
          // a ReadDefaults-tagged file (pre-evolution file of a converted
          // table) must read through readFilesDF too — the plain-parquet
          // bucket would emit null where the initial-default applies
          Seq((ins, "insert", insCat), (del, "delete", delCat)).foreach {
            case (fs, ct, cat) =>
              if (fs.exists(f => FileNames.isAbsolute(f.path) ||
                  DeletionVectors.descriptor(f).isDefined ||
                  Option(f.tags).exists(_.contains(ReadDefaults.MissingTag))))
                absFrames += readFilesDF(fs, endSnap.metadata)
                  .withColumn("_change_type", lit(ct))
                  .withColumn("_commit_version", lit(v))
                  .withColumn("_commit_timestamp",
                    timestamp_millis(lit(tsOf.getOrElse(v, 0L))))
                  .select((outCols :+ "_commit_version" :+ "_commit_timestamp").map(col): _*)
              else cat.entries ++= fs.map(f => (v, abs(f.path)))
          }
        }
      }

    val frames = cdcCat.frames() ++ insCat.frames() ++ delCat.frames() ++
      absFrames.result()
    frames.reduceOption(_ unionByName _).getOrElse {
      val empty = org.apache.spark.sql.types.StructType(
        schema.fields
          :+ org.apache.spark.sql.types.StructField("_change_type", org.apache.spark.sql.types.StringType)
          :+ org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.LongType)
          :+ org.apache.spark.sql.types.StructField("_commit_timestamp", org.apache.spark.sql.types.TimestampType))
      spark.createDataFrame(new java.util.ArrayList[Row](), empty)
    }
  }

  // -------------------------------------------------------------- write

  /** Append or overwrite the table with a DataFrame. With `mergeSchema`,
    * new columns in the data evolve the table schema in the same commit
    * (old files read the new columns as null); type changes always fail.
    */
  def write(df: DataFrame, mode: SaveMode = SaveMode.Append,
      partitionBy: Seq[String] = Nil, mergeSchema: Boolean = false,
      replaceWhere: Option[Column] = None,
      dynamicPartitionOverwrite: Boolean = false): Long = {
    require(replaceWhere.isEmpty || mode == SaveMode.Overwrite,
      "replaceWhere is only supported with SaveMode.Overwrite")
    require(!dynamicPartitionOverwrite || mode == SaveMode.Overwrite,
      "dynamic partition overwrite is only supported with SaveMode.Overwrite")
    require(!dynamicPartitionOverwrite || replaceWhere.isEmpty,
      "dynamic partition overwrite and replaceWhere are mutually exclusive")
    val txn = deltaLog.startTransaction()
    val exists = txn.readVersion >= 0 && txn.snapshot.metadataOpt.isDefined
    val partCols = if (exists) txn.metadata.partitionColumns else partitionBy
    // generated columns the batch omitted are computed before the schema
    // check (so an append without them is schema-complete) and inside the
    // same write pass (no second scan); identity columns likewise
    // generate before the check and stage their advanced high-water
    // marks for the commit (after the branches below, which may stage a
    // merged schema of their own — the marks are patched on top)
    val completed =
      if (exists)
        ColumnDefaults.complete(GeneratedColumns.complete(df, txn.metadata), txn.metadata)
      else df
    val (data0, idMarks) =
      if (exists) IdentityColumns.assign(completed, txn.metadata)
      else (completed, Map.empty[String, org.apache.spark.sql.types.Metadata])
    var data = data0

    if (!exists) {
      // tables created FROM a DataFrame capture a fully-nullable schema
      // (Delta's behavior): Scala-primitive columns arrive nullable=false
      // as an encoder artifact, not a user intent, and strict capture
      // would reject perfectly valid later appends with nulls. NOT NULL
      // invariants come only from explicitly-declared metadata schemas.
      val relaxed = Snapshot.nullable(df.schema)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      txn.updateMetadata(Metadata(
        schemaString = relaxed.json,
        partitionColumns = partCols,
        createdTime = Some(deltaLog.clock.nowMillis)))
    } else {
      val existing = txn.metadata.schema
      val existingByType = existing.fields.map(f => f.name -> f.dataType).toMap
      // type reconciliation: a NARROWER incoming column up-casts to the
      // table type on write (lossless, no metadata change); a WIDER one
      // widens the table column in place when delta.enableTypeWidening +
      // mergeSchema allow it (pure metadata commit — existing narrow
      // files promote at read time; the typeWidening feature is stamped
      // by the commit so pre-feature readers refuse the table)
      import org.apache.spark.sql.functions.col
      var fixed = data
      var widened = existing
      val wideningOn = DeltaConfig.EnableTypeWidening.fromMetadata(txn.metadata)
      data.schema.fields.foreach { f =>
        existingByType.get(f.name).foreach { dt =>
          if (dt != f.dataType) {
            if (Snapshot.nullable(dt) == Snapshot.nullable(f.dataType) &&
                dt == Snapshot.nullable(dt))
              // same type modulo nested nullability with the TABLE side
              // fully relaxed (the shape create-from-DataFrame produces):
              // stricter incoming data is a value subset — align the
              // metadata with a lossless cast instead of refusing
              fixed = fixed.withColumn(f.name, col(f.name).cast(dt))
            else if (TypeWidening.canWiden(f.dataType, dt))
              fixed = fixed.withColumn(f.name, col(f.name).cast(dt))
            else if (TypeWidening.canWiden(dt, f.dataType) && wideningOn && mergeSchema)
              widened = org.apache.spark.sql.types.StructType(widened.fields.map { wf =>
                if (wf.name == f.name) TypeWidening.widenField(wf, f.dataType) else wf
              })
            else throw new IllegalArgumentException(
              s"cannot change type of column ${f.name}: $dt -> ${f.dataType}" +
                (if (TypeWidening.canWiden(dt, f.dataType))
                  " (widenable: set delta.enableTypeWidening and pass mergeSchema = true)"
                 else ""))
          }
        }
      }
      if (widened ne existing)
        txn.updateMetadata(txn.metadata.copy(schemaString = widened.json))
      val incoming = fixed.schema
      val newCols = incoming.fields.filterNot(f => existingByType.contains(f.name))
      val missing = existing.fields.filterNot(f => incoming.fieldNames.contains(f.name))
      val same = widened.fields.map(f => (f.name, f.dataType)).toSeq ==
        incoming.fields.map(f => (f.name, f.dataType)).toSeq
      if (mergeSchema) {
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"mergeSchema append is missing table columns: ${missing.map(_.name).mkString(", ")}")
        if (newCols.nonEmpty) {
          // a default on an evolution-added column would need a read-time
          // EXISTS_DEFAULT fill for pre-existing files; refuse loudly
          newCols.find(_.metadata.contains(ColumnDefaults.CurrentKey)).foreach { f =>
            throw new IllegalArgumentException(
              s"cannot add column ${f.name} with a DEFAULT via schema evolution; " +
                "add the column first, then DeltaTable.setColumnDefault")
          }
          // under column mapping, new columns get fresh physical ids so a
          // re-added name can never resurrect dropped parquet data
          var mx = ColumnMapping.maxId(existing)
          val annotated = newCols.map { f =>
            val nf =
              if (ColumnMapping.enabled(txn.metadata)) {
                val a = ColumnMapping.freshField(f.copy(nullable = true), mx); mx += 1; a
              } else f.copy(nullable = true)
            nf
          }
          val merged = org.apache.spark.sql.types.StructType(widened.fields ++ annotated)
          txn.updateMetadata(txn.metadata.copy(schemaString = merged.json))
        }
      } else if (!same) {
        throw new IllegalArgumentException(
          s"schema mismatch: table has ${existing.simpleString}, data has " +
            s"${incoming.simpleString} (pass mergeSchema = true to evolve)")
      }
      data = fixed
      if (partitionBy.nonEmpty && partitionBy != partCols)
        throw new IllegalArgumentException(
          s"partitioning mismatch: table uses $partCols, got $partitionBy")
    }

    // advance identity high-water marks in the same commit (composes
    // with any schema staged by the mergeSchema branch above)
    if (idMarks.nonEmpty)
      txn.restageMetadata(IdentityColumns.patchSchema(txn.metadata, idMarks))

    // replaceWhere constraint, enforced PER-ROW INSIDE the write job
    // (same pinned raise_error guard as CHECK constraints): a separate
    // pre-write validation pass would both re-execute the source — a
    // non-deterministic input (rand(), unordered limit) could pass
    // validation yet write violating rows — and cost a full extra scan.
    // The violating task fails before its file is committed.
    replaceWhere.foreach { cond =>
      data = Constraints.enforcePredicate(data, cond,
        s"rows written with replaceWhere must all satisfy the predicate: $cond")
    }

    val toWrite =
      if (DeltaConfig.OptimizedWrite.fromMetadata(txn.metadata))
        DeltaTable.rebalanceForWrite(data, partCols)
      else data
    val adds = DeltaTable.writeFiles(spark, deltaLog.dataPath, toWrite, partCols,
      txn.metadata)
    val operation = Op.Write // mode travels in operationParameters
    val params = Map(
      "mode" -> mode.toString,
      "partitionBy" -> partCols.mkString(","),
      "mergeSchema" -> mergeSchema.toString) ++
      replaceWhere.map(c => "replaceWhere" -> c.toString) ++
      (if (dynamicPartitionOverwrite)
        Map("partitionOverwriteMode" -> "DYNAMIC") else Map.empty)
    val actions: Seq[Action] = mode match {
      case SaveMode.Append => adds
      case SaveMode.Overwrite if replaceWhere.isDefined && exists =>
        // selective overwrite: the DELETE rewrite of ONLY the region the
        // predicate covers, atomically with the new data. Reading only
        // the predicate (markFilesAsRead) instead of the whole table
        // keeps concurrent writers to OTHER regions conflict-free. The
        // rewrite's parameters are not recorded: "mode" is the save mode.
        rewriteWhere(txn, replaceWhere.get, None, inserted = Some(data)).actions ++ adds
      case SaveMode.Overwrite if dynamicPartitionOverwrite && exists =>
        // dynamic partition overwrite (delta-spark's
        // partitionOverwriteMode=dynamic): replace EXACTLY the
        // partitions the batch wrote into, atomically; untouched
        // partitions survive. The replaced set comes from the WRITTEN
        // files' partition values — not a pre-pass over the input, which
        // would re-execute a possibly non-deterministic source — so
        // deciding what to remove costs no extra scan.
        require(partCols.nonEmpty,
          "dynamic partition overwrite requires a partitioned table")
        txn.readWholeTable()
        val now = deltaLog.clock.nowMillis
        val writtenParts = adds.map(_.partitionValues).toSet
        val replaced = txn.snapshot.allFiles
          .filter(f => writtenParts.contains(f.partitionValues))
        val cdc =
          if (DeltaConfig.EnableChangeDataFeed.fromMetadata(txn.metadata) &&
              replaced.nonEmpty) {
            import org.apache.spark.sql.functions.{col, lit}
            val schemaCols = txn.metadata.schema.fieldNames.map(col).toSeq
            DeltaTable.writeCdcFiles(spark, deltaLog.dataPath,
              readFilesDF(replaced, txn.metadata)
                .withColumn("_change_type", lit("delete"))
                .unionByName(data.select(schemaCols: _*)
                  .withColumn("_change_type", lit("insert"))), txn.metadata)
          } else Nil
        replaced.map(_.remove(now)) ++ adds ++ cdc
      case SaveMode.Overwrite =>
        txn.readWholeTable()
        val now = deltaLog.clock.nowMillis
        // the remove list stays a Dataset: a 10^7-file overwrite streams
        // it into the commit file instead of holding it on the driver
        import spark.implicits._
        val v = txn.commit(adds, txn.snapshot.allFilesDS.map(_.remove(now).wrap),
          operation, params)
        autoCompactAfter(adds)
        return v
      case m => throw new IllegalArgumentException(s"unsupported save mode $m")
    }
    val v = txn.commit(actions, operation, operationParameters = params)
    autoCompactAfter(adds)
    v
  }

  /** FSCK REPAIR TABLE: drop log references to data files whose physical
    * files are gone (manual deletion, a botched lifecycle rule) so scans
    * stop failing on FileNotFound — the standard recovery statement.
    * Existence checks run ON EXECUTORS over the file-state Dataset (one
    * RPC per file against the store, sharded): the driver never walks
    * the listing, and only the MISSING subset — the exception, not the
    * table — comes back to commit as dataChange removes. DRY RUN
    * reports without committing.
    */
  def fsckRepair(dryRun: Boolean = false): Seq[String] = {
    import spark.implicits._
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = deltaLog.dataPath.getFileSystem(hadoopConf)
    val rootStr = fs.makeQualified(deltaLog.dataPath).toString
    val serConf = new SerializableHadoopConf(hadoopConf)
    val txn = deltaLog.startTransaction()
    val missing = txn.snapshot.allFilesDS.mapPartitions { it =>
      val f = new Path(rootStr).getFileSystem(serConf.value)
      it.filterNot(a => f.exists(FileNames.absolutePath(new Path(rootStr), a.path)))
    }.collect().toSeq
    if (missing.nonEmpty && !dryRun) {
      val now = deltaLog.clock.nowMillis
      txn.commit(missing.map(_.remove(now)), Op.Fsck,
        operationParameters = Map("numRemovedFiles" -> missing.size.toString))
    }
    missing.map(_.path)
  }

  /** CREATE OR REPLACE semantics: ONE transaction replaces schema,
    * partitioning AND data while keeping the table's log — history,
    * table id and configuration survive, time travel to pre-replace
    * versions still works (contrast DROP + CREATE, which severs both).
    * On a fresh path it degrades to CREATE TABLE AS. The remove list
    * stays a Dataset commit body, as in a full overwrite.
    */
  def replaceAs(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    val txn = deltaLog.startTransaction()
    val exists = txn.readVersion >= 0 && txn.snapshot.metadataOpt.isDefined
    val relaxed = Snapshot.nullable(df.schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val prev = if (exists) txn.metadata else Metadata()
    if (exists) txn.readWholeTable()
    txn.updateMetadata(prev.copy(
      schemaString = relaxed.json,
      partitionColumns = partitionBy,
      createdTime = prev.createdTime.orElse(Some(deltaLog.clock.nowMillis))))
    val adds = DeltaTable.writeFiles(spark, deltaLog.dataPath, df, partitionBy,
      txn.metadata)
    val now = deltaLog.clock.nowMillis
    val op = if (exists) Op.ReplaceTable else Op.CreateTable
    val params = Map("partitionBy" -> partitionBy.mkString(","))
    if (!exists) return txn.commit(adds, op, operationParameters = params)
    import spark.implicits._
    txn.commit(adds, txn.snapshot.allFilesDS.map(_.remove(now).wrap), op, params)
  }

  /** Auto compaction (opt-in via `delta.autoOptimize.autoCompact`): after
    * a write, bin-pack the just-touched partitions that accumulated too
    * many active files. Counting runs as ONE Spark aggregation over the
    * file-state DataFrame (never a driver collect of the full listing);
    * only the touched partitions' counts come back.
    */
  private def autoCompactAfter(adds: Seq[AddFile]): Unit = {
    import org.apache.spark.sql.functions.{col, element_at, lit}
    if (adds.isEmpty) return
    val s = deltaLog.update()
    val md = s.metadataOpt.getOrElse(return)
    if (!DeltaConfig.AutoCompact.fromMetadata(md)) return
    val minN = math.max(2, DeltaConfig.AutoCompactMinNumFiles.fromMetadata(md))
    val partCols = md.partitionColumns
    if (partCols.isEmpty) {
      if (s.numOfFiles >= minN) compactImpl(Nil, None, useClustering = false)
      return
    }
    val touched = adds.map(f => partCols.indices.map(i =>
      f.partitionValues.get(partCols(i)).flatMap(Option(_)))).distinct
    val keyed = partCols.zipWithIndex.foldLeft(s.activeFilesDF) { case (df, (c, i)) =>
      df.withColumn(s"__p$i", element_at(col("partitionValues"), c))
    }
    // narrow the count to the touched partitions (an append touches few);
    // a huge multi-partition load just counts everything in one pass
    val scoped = if (touched.size > 256) keyed else keyed.filter(
      touched.map(pv => partCols.indices.map(i => pv(i) match {
        case Some(v) => col(s"__p$i") === lit(v)
        case None => col(s"__p$i").isNull
      }).reduce(_ && _)).reduce(_ || _))
    val counts = scoped.groupBy(partCols.indices.map(i => col(s"__p$i")): _*)
      .count().collect()
      .map(r => (partCols.indices.map(i => Option(r.getString(i))), r.getLong(partCols.size)))
      .toMap
    val dense = touched.filter(pv => counts.getOrElse(pv, 0L) >= minN).take(64)
    if (dense.isEmpty) return
    val where = dense.map { pv =>
      partCols.zipWithIndex.map { case (c, i) =>
        pv(i) match {
          case Some(v) => col(c) === lit(v)
          case None => col(c).isNull
        }
      }.reduce(_ && _)
    }.reduce(_ || _)
    compactImpl(Nil, Some(where), useClustering = false)
    ()
  }

  /** Exactly-once streaming sink batch (use from `foreachBatch`): the
    * batch is skipped when `SetTransaction(appId)` already covers batchId,
    * so replayed micro-batches after a failure don't duplicate data
    * (cf. reference `action/trx.go` SetTransaction semantics).
    * Returns false when the batch was already committed.
    */
  def writeStreamBatch(df: DataFrame, appId: String, batchId: Long,
      partitionBy: Seq[String] = Nil, overwrite: Boolean = false): Boolean = {
    val txn = deltaLog.startTransaction()
    if (txn.txnVersion(appId) >= batchId) return false
    val exists = txn.readVersion >= 0 && txn.snapshot.metadataOpt.isDefined
    val partCols = if (exists) txn.metadata.partitionColumns else partitionBy
    if (!exists) {
      txn.updateMetadata(Metadata(
        schemaString = Snapshot.nullable(df.schema)
          .asInstanceOf[org.apache.spark.sql.types.StructType].json,
        partitionColumns = partCols,
        createdTime = Some(deltaLog.clock.nowMillis)))
    }
    val toWrite =
      if (DeltaConfig.OptimizedWrite.fromMetadata(txn.metadata))
        DeltaTable.rebalanceForWrite(df, partCols)
      else df
    val adds = DeltaTable.writeFiles(spark, deltaLog.dataPath, toWrite, partCols,
      txn.metadata)
    val head = adds :+ SetTransaction(appId, batchId, Some(deltaLog.clock.nowMillis))
    val params = Map(
      "outputMode" -> (if (overwrite) "Complete" else "Append"),
      "queryId" -> appId, "epochId" -> batchId.toString)
    if (overwrite && exists) {
      // Complete output mode: each batch replaces the table contents, so
      // it reads the whole table (a concurrent append conflicts instead
      // of surviving the replacement) and streams the remove list as the
      // commit's Dataset body, like write(Overwrite)
      txn.readWholeTable()
      val now = deltaLog.clock.nowMillis
      import spark.implicits._
      txn.commit(head, txn.snapshot.allFilesDS.map(_.remove(now).wrap),
        Op.StreamingUpdate, params)
    } else txn.commit(head, Op.StreamingUpdate, operationParameters = params)
    autoCompactAfter(adds)
    true
  }

  /** OPTIMIZE: bin-pack partitions that have more than one file. ONE
    * Spark job rewrites every under-filled partition — all candidate
    * files are read together (partition columns recovered from the hive
    * paths), hash-distributed on the partition key (+ a deterministic
    * salt so an oversized partition splits toward `delta.targetFileSize`)
    * and written in a single partitioned pass. Round 1 looped
    * `coalesce(1)` jobs per partition on the driver — 100k partitions
    * meant 100k serial jobs. Rewrites carry dataChange=false, so
    * streaming sources skip them and concurrent appends don't conflict.
    */
  def compact(): Long = compact(Nil, None)

  /** OPTIMIZE ... WHERE: bin-pack only the partitions matching a
    * partition-column predicate — the operational shape on a huge table
    * (compact the hot partition without touching cold ones). The
    * predicate is evaluated driver-locally over `partitionValues`; it
    * must reference partition columns only.
    */
  def compact(where: Column): Long = compact(Nil, Some(where))

  def compact(zorderBy: Seq[String]): Long = compact(zorderBy, None)

  /** OPTIMIZE ... ZORDER BY: like [[compact()]], but additionally lays
    * rows out along a Morton curve over `zorderBy`, so per-file min/max
    * stats become selective on EVERY Z-ordered column at once — the
    * multi-column data-skipping layout. Numeric/date/timestamp columns
    * min-max normalize to the key's bit range (one stats pass); other
    * types hash-bucket (consistent placement, no range locality). With
    * `zorderBy`, ALL files re-cluster, not just under-filled partitions.
    */
  def compact(zorderBy0: Seq[String], where: Option[Column]): Long =
    compactImpl(zorderBy0, where, useClustering = true)

  /** OPTIMIZE ... FULL: explicit whole-scope re-cluster of a clustered
    * table. Plain OPTIMIZE is INCREMENTAL on clustered tables — it
    * clusters only data not already in a current, big-enough ZCube (see
    * [[compactImpl]]) — so after changing the clustering columns, or to
    * fold many historical small cubes into fresh full-size ones, FULL is
    * the explicit opt-in to pay the whole rewrite.
    */
  def compactFull(): Long = compactImpl(Nil, None, useClustering = true,
    full = true)

  /** REORG ... APPLY (PURGE): rewrite exactly the files carrying deletion
    * vectors (protocol descriptors or legacy tags), materializing their
    * deletes and dropping the descriptors; clean files are untouched.
    */
  def reorgPurge(): Long =
    compactImpl(Nil, None, useClustering = false, purgeOnly = true)

  /** Row-tracking backfill: rewrite exactly the files written BEFORE row
    * tracking was enabled (no baseRowId), assigning their rows real ids.
    * Files that already track rows are untouched — unlike a full
    * OPTIMIZE, this touches only the legacy tail of the table.
    */
  def backfillRowIds(): Long = {
    require(snapshot.metadataOpt.exists(RowTracking.enabled),
      s"row tracking is not enabled on ${deltaLog.dataPath}")
    compactImpl(Nil, None, useClustering = false, backfillOnly = true)
  }

  /** `ALTER TABLE ... CLUSTER BY` (liquid-clustering-style DDL UX): a
    * METADATA-ONLY commit that re-declares the clustering columns —
    * existing files are NOT rewritten; the next plain OPTIMIZE
    * re-clusters along the new declaration (that split is the whole
    * point of liquid clustering: declaring intent is O(1), paying the
    * rewrite is a separately scheduled maintenance job). Empty `cols` =
    * `CLUSTER BY NONE`: clears the declaration, OPTIMIZE reverts to
    * bin-packing. Columns must exist in the schema and must not be
    * partition columns (a partition column is already physically
    * clustered by the directory layout).
    */
  def clusterBy(cols: Seq[String]): Long = {
    val txn = deltaLog.startTransaction()
    val md = txn.metadata
    val fieldNames = md.schema.fields.map(_.name)
    val resolved = cols.map { c =>
      fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"clustering column $c not found in schema " +
            s"(${fieldNames.mkString(", ")})"))
    }
    resolved.find(c => md.partitionColumns.exists(_.equalsIgnoreCase(c)))
      .foreach(c => throw new IllegalArgumentException(
        s"clustering column $c is a partition column"))
    val conf =
      if (resolved.isEmpty)
        md.configuration - DeltaConfig.ClusteringColumns.key
      else
        md.configuration +
          (DeltaConfig.ClusteringColumns.key -> resolved.mkString(","))
    txn.updateMetadata(md.copy(configuration = conf))
    txn.commit(Nil, Op.ClusterBy, operationParameters =
      Map("clusterBy" ->
        (if (resolved.isEmpty) "NONE" else resolved.mkString(","))))
  }

  /** `useClustering = false` is the auto-compaction entry: per-write
    * bin-packing must stay cheap and NOT trigger a declared-clustering
    * full re-cluster on every commit.
    */
  private def compactImpl(zorderBy0: Seq[String], where: Option[Column],
      useClustering: Boolean, purgeOnly: Boolean = false,
      backfillOnly: Boolean = false, full: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, hash, pmod, lit, floor, when, count, sum => fsum, to_json, array_sort, map_entries, element_at, min => fmin, max => fmax}
    val txn = deltaLog.startTransaction()
    if (txn.snapshot.metadataOpt.isEmpty) return txn.readVersion
    val md = txn.metadata
    val partCols = md.partitionColumns
    // declared clustering columns make a plain OPTIMIZE a re-cluster:
    // the nightly maintenance job stays table-agnostic
    val zorderBy =
      if (zorderBy0.nonEmpty) zorderBy0
      else if (!useClustering) Nil
      else DeltaConfig.ClusteringColumns.fromMetadata(md)
    // ---- candidate selection runs on EXECUTORS over the file-state
    // Dataset: the driver never materializes the table's full AddFile
    // list (on a 10^7-file table that walks a multi-GB heap just to
    // learn "nothing to compact"). Only the files that will actually be
    // REWRITTEN are collected — the set whose size the rewrite itself
    // already pays for.
    import spark.implicits._
    val allDS: Dataset[AddFile] = txn.snapshot.allFilesDS
    val scoped: Dataset[AddFile] = where match {
      case None => allDS
      case Some(p) =>
        val (pushed, residual) =
          DeltaScan.splitAnalyzed(spark, md.schema, p, partCols.toSet)
        require(residual.isEmpty,
          s"OPTIMIZE WHERE supports partition-column predicates only; " +
            s"non-partition conjuncts: ${residual.mkString(", ")}")
        val keep = DeltaScan.partitionEvaluator(spark, pushed, partCols, md.schema)
        // O(live partitions) on the driver — the SHOW PARTITIONS class,
        // never the O(files) class (distinct over sorted entries: Spark
        // set ops reject MAP columns)
        val kept = allDS
          .select(array_sort(map_entries(col("partitionValues"))).as("e"))
          .distinct().as[Seq[(String, String)]].collect()
          .map(_.toMap).filter(keep).toSet
        val keptB = spark.sparkContext.broadcast(kept)
        allDS.filter((f: AddFile) => keptB.value(f.partitionValues))
    }
    // validate the declared curve at USE, even when the incremental
    // planner later decides there is nothing to rewrite — a bogus
    // delta.clusteringStrategy must fail loudly, not lie dormant until
    // the first append makes it the layout
    if (zorderBy.nonEmpty) DeltaConfig.ClusteringStrategy.fromMetadata(md)
    val zcubeSpec = zorderBy.mkString(",")
    val incremental =
      zorderBy.nonEmpty && zorderBy0.isEmpty && !full &&
        !purgeOnly && !backfillOnly
    // which files rewrite: DV'd files (even alone) rewrite to materialize
    // their deletion vectors and drop the descriptors; an EXPLICIT
    // Z-order request (or OPTIMIZE FULL) re-clusters everything;
    // declared-clustering OPTIMIZE is INCREMENTAL (ZCube-style)
    val candDS: Dataset[AddFile] =
      if (purgeOnly)
        scoped.filter((f: AddFile) => DeletionVectors.descriptor(f).isDefined)
      else if (backfillOnly) scoped.filter((f: AddFile) => f.baseRowId.isEmpty)
      else if (zorderBy.nonEmpty && !incremental) scoped
      else if (incremental) {
        // Incremental clustering: every clustered rewrite stamps its
        // outputs with a ZCube id (AddFile tags, the delta-spark
        // convention), so maintenance can tell "already laid out along
        // the CURRENT clustering columns" from "new/unclustered data".
        // Plain OPTIMIZE then rewrites ONLY: (a) files with no current
        // cube tag (new appends, or files clustered under a different
        // column set), (b) files carrying deletion vectors, and
        // (c) files in cubes below delta.clustering.minCubeSize — small
        // cubes fold into their neighbors until cubes reach full size.
        // This is the property that makes nightly OPTIMIZE affordable at
        // 100 TB: cost tracks new data, not table size. `OPTIMIZE ...
        // FULL` is the explicit whole-scope re-cluster.
        val spec = zcubeSpec
        // per-cube byte totals: one tiny aggregate, O(#cubes) rows back.
        // Totals come from the UNSCOPED file state — a cube spans
        // OPTIMIZE jobs' whole scope (often several partitions), and
        // sizing it from a WHERE-scoped slice would misclassify a final
        // cube as small and churn its files on every scoped run
        val cubeSizes: Map[String, Long] = allDS
          .flatMap((f: AddFile) => ZCube.of(f, spec).map(id => (id, f.size)))
          .toDF("id", "bytes")
          .groupBy("id").agg(fsum("bytes").as("bytes"))
          .as[(String, Long)].collect().toMap
        val minCube = DeltaConfig.ClusteringMinCubeSize.fromMetadata(md)
        val small = spark.sparkContext.broadcast(
          cubeSizes.filter(_._2 < minCube).keySet)
        scoped.filter((f: AddFile) => ZCube.of(f, spec) match {
          case None => true
          case Some(id) => DeletionVectors.descriptor(f).isDefined ||
            small.value(id)
        })
      } else {
        // plain bin-pack: partitions with 2+ files, or any DV'd file —
        // found with one window over a canonical partition key (map
        // entries sorted, so equal partitions always collide), no
        // per-partition driver state
        val pk = to_json(array_sort(map_entries(col("partitionValues"))))
        val dv = col("deletionVector").isNotNull ||
          element_at(col("tags"), DeletionVectors.PathTag).isNotNull
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__pk"))
        val cols = scoped.toDF.columns
        scoped.toDF
          .withColumn("__pk", pk)
          .withColumn("__n", count(lit(1)).over(w))
          .withColumn("__dv", fmax(when(dv, 1).otherwise(0)).over(w))
          .filter(col("__n") > 1 || col("__dv") === 1)
          .select(cols.map(col).toSeq: _*)
          .as[AddFile]
      }
    // the ONLY driver materialization: the rewrite set itself
    val candidates = candDS.collect().toSeq
    val toCompact: Map[Map[String, String], Seq[AddFile]] =
      if (incremental) {
        // rewriting a SINGLE small cube with no new data alongside it
        // gains nothing — that degenerate case commits NOTHING, making
        // back-to-back OPTIMIZE runs idempotent
        val hasNew = candidates.exists(f =>
          ZCube.of(f, zcubeSpec).isEmpty ||
            DeletionVectors.descriptor(f).isDefined)
        val candCubes = candidates.flatMap(f => ZCube.of(f, zcubeSpec)).distinct
        if (!hasNew && candCubes.size <= 1)
          Map.empty[Map[String, String], Seq[AddFile]]
        else candidates.groupBy(_.partitionValues)
      } else candidates.groupBy(_.partitionValues)
    if (toCompact.isEmpty) return txn.snapshot.version
    zorderBy.foreach { c =>
      require(md.schema.fieldNames.contains(c), s"unknown ZORDER column $c")
      require(!partCols.contains(c), s"cannot ZORDER by partition column $c")
    }
    val now = deltaLog.clock.nowMillis
    val files = toCompact.values.flatten.toSeq
    val targetSize = DeltaConfig.TargetFileSize.fromMetadata(md)
    val totalBytes = files.map(_.size).sum
    val numTasks = math.max(1, math.min(files.size,
      math.ceil(totalBytes.toDouble / targetSize).toInt))
    // files-per-oversized-partition: the salt splits a partition into at
    // most `saltBuckets` output files of ~targetSize each
    val maxPartBytes = toCompact.values.map(_.map(_.size).sum).max
    val saltBuckets = math.max(1, math.ceil(maxPartBytes.toDouble / targetSize).toInt)
    // row tracking: OPTIMIZE rewrites content-identical rows, so their ids
    // must survive — materialize them as physical (non-schema) columns in
    // the rewritten files, where they override the fresh baseRowId ids
    val df0 =
      if (RowTracking.enabled(md))
        rowIdResolved(files, md).select(md.schema.fieldNames.map(col).toSeq ++
          DeltaTable.lineage(col("__rt_row_id"), col("__rt_rcv")): _*)
      else readFilesDF(files, md)
    val dataCols = md.schema.fieldNames.filterNot(partCols.contains).map(col).toSeq
    // zero-arg hash() fails analysis when every column is a partition column
    val salt = if (dataCols.isEmpty) lit(0) else pmod(hash(dataCols: _*), lit(saltBuckets))
    val df =
      if (zorderBy.nonEmpty) {
        import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}
        val bits = math.min(16, 63 / zorderBy.size)
        val span = (1L << bits) - 1
        val rangeable = zorderBy.filter { c =>
          md.schema(c).dataType match {
            case _: NumericType | DateType | TimestampType => true
            case _ => false
          }
        }
        // dates/timestamps range-normalize on their epoch numbers (a plain
        // double cast is not a legal Catalyst cast for them)
        def asNum(c: String): Column = md.schema(c).dataType match {
          case DateType => org.apache.spark.sql.functions.unix_date(col(c)).cast("double")
          case TimestampType => org.apache.spark.sql.functions.unix_micros(col(c)).cast("double")
          case _ => col(c).cast("double")
        }
        val aggExprs = rangeable.flatMap(c => Seq(
          fmin(asNum(c)).as(s"mn_$c"), fmax(asNum(c)).as(s"mx_$c")))
        val stats =
          if (aggExprs.isEmpty) null
          else df0.agg(aggExprs.head, aggExprs.tail: _*).head()
        val keys = zorderBy.map { c =>
          if (rangeable.contains(c)) {
            val mn = stats.getAs[Double](s"mn_$c")
            val mx = stats.getAs[Double](s"mx_$c")
            val width = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
            floor((asNum(c) - lit(mn)) / lit(width) * lit(span.toDouble)).cast("long")
          } else pmod(hash(col(c)), lit(span + 1)).cast("long")
        }
        // curve choice (delta.clusteringStrategy): Morton interleave by
        // default; Hilbert for unit-step locality (needs 2+ dimensions —
        // on one column both curves degenerate to the identity)
        val curve = DeltaConfig.ClusteringStrategy.fromMetadata(md)
        val keyExprs = keys.map(k => org.apache.spark.sql.GraftShims.expression(k))
        val z = org.apache.spark.sql.GraftShims.column(
          if (curve == "hilbert" && keyExprs.size >= 2)
            graft.functions.HilbertIndex(keyExprs, bits)
          else graft.functions.InterleaveBits(keyExprs, bits))
        df0.withColumn("__z", z)
          .repartitionByRange(numTasks, partCols.map(col) :+ col("__z"): _*)
          .sortWithinPartitions(partCols.map(col) :+ col("__z"): _*)
          .drop("__z")
      } else if (partCols.nonEmpty) df0.repartition(numTasks, partCols.map(col) :+ salt: _*)
      else df0.repartition(numTasks)
    // clustered outputs carry their ZCube identity so the NEXT OPTIMIZE
    // knows they are already laid out along these columns
    val cubeTags: Map[String, String] =
      if (zorderBy.nonEmpty)
        Map(ZCube.IdTag -> java.util.UUID.randomUUID().toString,
          ZCube.SpecTag -> zorderBy.mkString(","),
          ZCube.CurveTag -> DeltaConfig.ClusteringStrategy.fromMetadata(md))
      else Map.empty
    val adds = DeltaTable.writeFiles(spark, deltaLog.dataPath, df, partCols,
      md)
      .map(a => a.copy(dataChange = false,
        tags = if (cubeTags.isEmpty) a.tags
          else Option(a.tags).getOrElse(Map.empty[String, String]) ++ cubeTags))
    val removes = files.map(f => f.remove(now, dataChange = false))
    // delta-spark OPTIMIZE observability parity: output-file size
    // distribution in operationMetrics, so a maintenance dashboard can
    // tell "converging toward targetFileSize" from "still fragmented"
    // without scanning the file state
    val outSizes = adds.map(_.size).sorted
    def pct(p: Double): Long =
      if (outSizes.isEmpty) 0L
      else outSizes(math.min(outSizes.size - 1, (p * outSizes.size).toInt))
    val sizeMetrics =
      if (outSizes.isEmpty) Map.empty[String, String]
      else Map(
        "minFileSize" -> outSizes.head.toString,
        "p50FileSize" -> pct(0.5).toString,
        "maxFileSize" -> outSizes.last.toString)
    txn.commit(removes ++ adds, if (purgeOnly || backfillOnly) Op.Reorg else Op.Optimize,
      operationParameters = Map("targetFileSize" -> targetSize.toString) ++
        (if (purgeOnly) Map("applyPurge" -> "true") else Map.empty) ++
        (if (backfillOnly) Map("backfillRowIds" -> "true") else Map.empty) ++
        (if (full) Map("isFull" -> "true") else Map.empty) ++
        (if (zorderBy.nonEmpty)
          Map("zOrderBy" -> zorderBy.mkString(","),
            "clusteringStrategy" -> DeltaConfig.ClusteringStrategy.fromMetadata(md))
        else Map.empty),
      operationMetrics = sizeMetrics)
  }

  /** vacuumProtocolCheck (public table-features spec): a table that
    * lists the feature demands the FULL writer protocol gate before any
    * vacuum touches files — so a legacy client that can't interpret a
    * newer feature (say, a future deletion-vector encoding) cannot race
    * a vacuum against state it doesn't understand and delete files a
    * conforming reader still needs. Without the feature, vacuum keeps
    * its historical laxer behavior (it never needed a protocol bump).
    * Enablement round-trips through `delta.feature.vacuumProtocolCheck
    * =supported` like any other feature (reader+writer, r3/w7).
    */
  private def assertVacuumProtocol(s: Snapshot): Unit = {
    val p = s.protocol
    val listed = p.readerFeatures.exists(_.contains("vacuumProtocolCheck")) ||
      p.writerFeatures.exists(_.contains("vacuumProtocolCheck"))
    if (listed) s.assertProtocolWrite()
  }

  /** VACUUM: physically delete files no version inside the retention
    * window still needs; see [[sweep]]. Candidates are the table's
    * `.parquet` files whose mtime is past retention plus the
    * `_deletion_vectors` sidecars past retention. They come from a
    * recursive listing run on executors or, given `inventory` (VACUUM
    * ... USING INVENTORY; columns path, modificationTime, optional
    * isDir/length), from that table instead: at 10^7 objects the
    * listing IS the cost of a full vacuum. Inventory entries outside the
    * table root are dropped, so a malformed inventory cannot reach into
    * another table. Empty partition directories go too.
    */
  def vacuum(retentionMillis: Option[Long] = None,
      dryRun: Boolean = false,
      reportLimit: Int = 1000,
      inventory: Option[DataFrame] = None): VacuumResult =
    sweep(retentionMillis, dryRun, reportLimit, inventory, lite = false)

  /** VACUUM LITE: the candidates are the files of the snapshot's
    * tombstones past retention (data files and DV sidecars), each probed
    * for existence, never a filesystem listing — the tombstone set is
    * O(removes retained in the log) and ships straight out of the
    * checkpoint. Untracked orphans from crashed writers still need a
    * periodic FULL [[vacuum]], the standard LITE trade.
    */
  def vacuumLite(retentionMillis: Option[Long] = None,
      dryRun: Boolean = false,
      reportLimit: Int = 1000): VacuumResult =
    sweep(retentionMillis, dryRun, reportLimit, None, lite = true)

  /** The one VACUUM sweep behind [[vacuum]] and [[vacuumLite]], which
    * differ only in where the `(path, len)` candidates come from.
    *
    * Retention (explicit, else `delta.deletedFileRetentionDuration`)
    * protects every file that a version inside the window can read: the
    * data files and DV sidecars of live adds and of tombstones whose
    * `deletionTimestamp` is after the cutoff. A tombstone without a
    * timestamp protects nothing and never expires. Candidates minus the
    * protected set are the files to delete; shallow-clone references
    * outside the table root are never candidates.
    *
    * Listing, protection anti-join and deletes all run on executors, so
    * the driver never holds the file set. A real run persists the
    * candidates, writes a VACUUM START commit with their exact count
    * and size, deletes them in one pass and writes a VACUUM END commit
    * with the deleted count (delta-spark's vacuum audit trail). DRY RUN
    * runs the same pass without deleting and commits nothing. The
    * report is bounded: the exact count plus at most `reportLimit`
    * sample paths. On a table with Iceberg metadata, a run that deleted
    * files expires the non-current Iceberg snapshots.
    */
  private def sweep(retentionMillis: Option[Long], dryRun: Boolean,
      reportLimit: Int, inventory: Option[DataFrame], lite: Boolean): VacuumResult = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, count, lit, sum}
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = deltaLog.dataPath.getFileSystem(hadoopConf)
    val s = snapshot
    assertVacuumProtocol(s)
    val retention = retentionMillis.getOrElse(
      DeltaConfig.TombstoneRetention.fromMetadata(s.metadata))
    val cutoff = deltaLog.clock.nowMillis - retention
    val rootStr = fs.makeQualified(deltaLog.dataPath).toString
    val rootPath = new Path(rootStr).toUri.getPath.stripSuffix("/")
    val serConf = new SerializableHadoopConf(hadoopConf)
    val icebergMeta = fs.exists(new Path(
      IcebergMetadata.metadataDir(deltaLog), "version-hint.text"))
    def referenced(files: DataFrame): Dataset[String] =
      files.select($"path", $"deletionVector", $"tags")
        .as[(String, DeletionVectorDescriptor, Map[String, String])]
        .flatMap { case (p, dv, tags) =>
          DeltaTable.referencedFiles(rootStr, p, DeletionVectors.descriptor(dv, tags))
        }
    val tombstones = s.tombstonesDF
    val kept = referenced(s.activeFilesDF)
      .union(referenced(tombstones.where($"deletionTimestamp" > cutoff)))
      .toDF("p")

    val listed: Dataset[(String, Long)] =
      if (lite)
        referenced(tombstones.where($"deletionTimestamp" <= cutoff)).distinct()
          .mapPartitions { it =>
            // a tombstone can outlive its file (an earlier full vacuum)
            val f = new Path(rootStr).getFileSystem(serConf.value)
            it.flatMap { p =>
              try Iterator.single((p, f.getFileStatus(new Path(p)).getLen))
              catch { case _: java.io.FileNotFoundException => Iterator.empty }
            }
          }
      else {
        val files: Dataset[(String, Long, Long)] = inventory match {
          case Some(inv) =>
            val names = inv.columns.map(_.toLowerCase).toSet
            require(names.contains("path") && names.contains("modificationtime"),
              s"inventory must provide path and modificationTime columns, " +
                s"got ${inv.columns.mkString(", ")}")
            val rows = if (names.contains("isdir")) inv.filter(!inv("isDir")) else inv
            val len = if (names.contains("length")) rows("length").cast("long") else lit(0L)
            rows.select(rows("path").cast("string"),
                rows("modificationTime").cast("long"), len)
              .as[(String, Long, Long)]
              .mapPartitions { it =>
                val root = new Path(rootStr)
                it.flatMap { case (raw, m, n) =>
                  FileNames.underTableRoot(root, raw).map(p => (p, m, n))
                }
              }
          case None =>
            // one task per top-level entry, recursing on executors; hidden
            // dirs are skipped, as nothing under them is sweepable
            val seeds = fs.listStatus(deltaLog.dataPath).map(_.getPath.getName)
              .filterNot(DeltaTable.hidden).toSeq
            spark.createDataset(seeds)
              .repartition(math.max(1, math.min(seeds.size, 32)))
              .mapPartitions { dirs =>
                val f = new Path(rootStr).getFileSystem(serConf.value)
                dirs.flatMap { d =>
                  val out = Seq.newBuilder[(String, Long, Long)]
                  def walk(p: Path): Unit = f.listStatus(p).foreach { st =>
                    if (!st.isDirectory)
                      out += ((st.getPath.toUri.getPath, st.getModificationTime, st.getLen))
                    else if (!DeltaTable.hidden(st.getPath.getName)) walk(st.getPath)
                  }
                  walk(new Path(rootStr, d))
                  out.result()
                }
              }
        }
        // DV sidecars: one flat dir, O(deletes since compaction)
        val dvDir = new Path(deltaLog.dataPath, DeletionVectors.DvPrefix)
        val sidecars = if (!fs.exists(dvDir)) Nil else fs.listStatus(dvDir).toSeq
          .filter(_.getModificationTime <= cutoff)
          .map(st => (st.getPath.toUri.getPath, st.getLen))
        files
          .filter { case (p, m, _) =>
            m <= cutoff && DeltaTable.sweepable(rootPath, p, icebergMeta) }
          .map { case (p, _, n) => (p, n) }
          .union(sidecars.toDS())
      }
    val candidates = listed.toDF("p", "len").join(kept, Seq("p"), "left_anti")

    val doDelete = !dryRun
    if (doDelete) {
      candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val r = candidates.agg(count(lit(1)), coalesce(sum($"len"), lit(0L))).head()
      deltaLog.startTransaction().commit(Nil, Op.VacuumStart,
        operationParameters = Map(
          "retentionMillis" -> retention.toString,
          "specifiedRetention" -> retentionMillis.nonEmpty.toString) ++
          (if (lite) Map("lite" -> "true") else Map.empty),
        operationMetrics = Map(
          "numFilesToDelete" -> r.getLong(0).toString,
          "sizeOfDataToDelete" -> r.getLong(1).toString))
    }
    // exact count + bounded sample in one pass: each task returns its
    // count and ≤reportLimit sample paths, trimmed on the driver
    val perTask = candidates.select($"p").as[String].mapPartitions { it =>
      val f = if (doDelete) new Path(rootStr).getFileSystem(serConf.value) else null
      var n = 0L
      val sample = Seq.newBuilder[String]
      var sampled = 0
      it.foreach { p =>
        if (!doDelete || f.delete(new Path(p), false)) {
          n += 1
          if (sampled < reportLimit) { sample += p; sampled += 1 }
        }
      }
      Iterator.single((n, sample.result()))
    }.collect()
    val deletedCount = perTask.map(_._1).sum

    if (doDelete) {
      // empty partition dirs, O(partitions): LITE never lists
      def dropEmptyDirs(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
        if (st.isDirectory && !st.getPath.getName.startsWith("_")) {
          dropEmptyDirs(st.getPath)
          if (fs.listStatus(st.getPath).isEmpty) fs.delete(st.getPath, false)
        }
      }
      if (!lite) dropEmptyDirs(deltaLog.dataPath)
      candidates.unpersist()
      deltaLog.startTransaction().commit(Nil, Op.VacuumEnd,
        operationParameters = Map("status" -> "COMPLETED"),
        operationMetrics = Map("numDeletedFiles" -> deletedCount.toString))
      if (deletedCount > 0 && icebergMeta) expireIcebergSnapshots()
    }
    VacuumResult(deletedCount, perTask.iterator.flatMap(_._2).take(reportLimit).toSeq)
  }

  /** After a VACUUM deleted files under a table with a `metadata/` dir:
    * the swept files may still be referenced by OLDER Iceberg snapshots —
    * a foreign reader's time travel would break silently. Expire every
    * non-current Iceberg snapshot (retention 0), the Iceberg mirror of
    * what the vacuum just did to Delta history. Only on a UniForm table:
    * a FOREIGN metadata/ dir (e.g. a table adopted via convertFromIceberg,
    * which does not set the property) is not this engine's to rewrite —
    * regenerating there would clobber the foreign view instead of
    * trimming ours. Warn loudly instead: the foreign snapshot may now
    * reference vacuumed files, and only its owner can expire it.
    */
  private def expireIcebergSnapshots(): Unit = {
    val uniform = deltaLog.update().metadataOpt.exists(m =>
      DeltaConfig.UniversalFormats.fromMetadata(m).contains("iceberg"))
    if (uniform)
      try IcebergMetadata.generate(spark, deltaLog, deltaLog.update(), Some(0L))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"WARN graft: post-VACUUM Iceberg snapshot expiry failed: ${e.getMessage}")
      }
    else System.err.println(
      "WARN graft: VACUUM removed files under a table with a foreign " +
        "Iceberg metadata/ dir (delta.universalFormat.enabledFormats " +
        "does not include iceberg); its snapshots were NOT expired and " +
        "may reference the deleted files — expire them with the engine " +
        "that owns that metadata")
  }

  /** UniForm: generate Iceberg metadata for the CURRENT snapshot (see
    * [[IcebergMetadata]]). Returns the Iceberg metadata version. Also
    * runs automatically after each commit when
    * `delta.universalFormat.enabledFormats` contains `iceberg`.
    */
  def generateIcebergMetadata(): Long =
    IcebergMetadata.generate(spark, deltaLog, deltaLog.update())

  /** Publish a NAMED Iceberg ref (Iceberg spec v2, Table Metadata
    * `refs`): a `tag` (immutable release pointer) or `branch` on the
    * generated UniForm metadata. Iceberg-side consumers pin to it
    * (Flink/Trino `VERSION AS OF 'name'`), and [[convertFromIceberg]]
    * adopts/follows it (A87). The referenced snapshot is PROTECTED
    * from retention expiry while the ref lives — a published tag stays
    * adoptable — except under VACUUM's forced expiry, where the ref
    * drops loudly instead of dangling over deleted data files.
    * `snapshotId` defaults to the current Iceberg snapshot.
    */
  def createIcebergRef(name: String, tag: Boolean = true,
      snapshotId: Option[Long] = None): Unit = {
    require(name != "main", "'main' always tracks the current snapshot")
    val snap = deltaLog.update()
    require(DeltaConfig.UniversalFormats.fromMetadata(snap.metadata)
      .contains("iceberg"),
      "Iceberg refs ride UniForm metadata — the table needs " +
        "delta.universalFormat.enabledFormats=iceberg")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = readIcebergMetadata(mapper)
    import scala.jdk.CollectionConverters._
    val known: Set[Long] = meta.get("snapshots").elements().asScala
      .map(_.get("snapshot-id").asLong).toSet
    val sid = snapshotId.getOrElse(meta.get("current-snapshot-id").asLong)
    require(known.contains(sid),
      s"snapshot $sid is not retained in the Iceberg metadata " +
        s"(retained: ${known.toSeq.sorted.mkString(", ")})")
    updateAuthoredRefs(snap, mapper) { refs =>
      refs.putObject(name).put("snapshot-id", sid)
        .put("type", if (tag) "tag" else "branch")
    }
  }

  /** Remove a published ref. An engine-authored ref is deleted; a
    * carried FOREIGN ref (from a converted table's metadata) is
    * tombstoned so regeneration stops carrying it.
    */
  def dropIcebergRef(name: String): Unit = {
    require(name != "main", "'main' cannot be dropped")
    val snap = deltaLog.update()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = readIcebergMetadata(mapper)
    val exists = Option(meta.get("refs"))
      .exists(r => r.get(name) != null)
    val inMarker = snap.metadata.configuration
      .get(IcebergMetadata.RefsAuthoredKey)
      .exists(js => mapper.readTree(js).get(name) != null)
    require(exists || inMarker, s"no Iceberg ref named '$name'")
    updateAuthoredRefs(snap, mapper) { refs =>
      refs.putNull(name) // tombstone: authored entry replaced, carried
      // foreign ref suppressed by the generator's overlay
      ()
    }
  }

  private def readIcebergMetadata(
      mapper: com.fasterxml.jackson.databind.ObjectMapper)
      : com.fasterxml.jackson.databind.JsonNode = {
    val metaDir = IcebergMetadata.metadataDir(deltaLog)
    val fs = metaDir.getFileSystem(spark.sessionState.newHadoopConf())
    val hintPath = new Path(metaDir, "version-hint.text")
    require(fs.exists(hintPath),
      "no Iceberg metadata generated yet — commit once (or call " +
        "generateIcebergMetadata) first")
    val hint = {
      val in = fs.open(hintPath)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8").trim
      finally in.close()
    }
    val in = fs.open(new Path(metaDir, s"v$hint.metadata.json"))
    try mapper.readTree(in) finally in.close()
  }

  private def updateAuthoredRefs(snap: Snapshot,
      mapper: com.fasterxml.jackson.databind.ObjectMapper)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    val refs = snap.metadata.configuration
      .get(IcebergMetadata.RefsAuthoredKey)
      .map(js => mapper.readTree(js)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
      .getOrElse(mapper.createObjectNode())
    edit(refs)
    val txn = deltaLog.startTransaction()
    txn.updateMetadata(snap.metadata.copy(
      configuration = snap.metadata.configuration +
        (IcebergMetadata.RefsAuthoredKey -> mapper.writeValueAsString(refs))))
    txn.commit(Nil, Op.SetTableProperties,
      operationParameters = Map("icebergRefs" -> refs.toString))
  }

  /** ANALYZE-style NDV statistics export (Iceberg Table Statistics):
    * computes one KMV theta sketch per column in a SINGLE
    * partial-aggregated scan (at most 2^lgK longs per column per map
    * task cross the shuffle — [[graft.functions.ThetaSketchAgg]]),
    * writes a Puffin statistics file of
    * `apache-datasketches-theta-v1` blobs under `metadata/`, and
    * commits the statistics entry into table config so every
    * subsequent UniForm generation references it from the metadata's
    * `statistics` list while its snapshot stays retained — Iceberg
    * planners keep cardinality hints on mirrored tables, and
    * [[IcebergMetadata.convertFrom]] imports the `ndv` properties back
    * as `graft.stats.ndv.<column>` config on adoption.
    *
    * Explicitly invoked — an O(table) scan is never paid per commit.
    * `columns` defaults to every top-level atomic column.
    *
    * `incremental = true`: re-analysis cost follows the APPEND RATE,
    * not table size. The KMV sketch is insert-idempotent (re-adding an
    * existing value is a no-op), so the previous sketch stays exactly
    * mergeable as long as no snapshot since REMOVED rows: the snapshot
    * chain from the last analyzed snapshot to the head must be
    * append/replace only (compaction rewrites the same rows — its
    * outputs re-scan harmlessly). Only files absent at the analyzed
    * version are scanned; the fresh sketches union with the stored
    * Puffin bodies driver-side (bounded: ≤ 2^lgK longs per column).
    * A broken chain, a missing column blob, or an unreadable previous
    * file falls back to the full scan — recorded in the commit's
    * `mode` operation parameter.
    */
  def analyzeNdv(columns: Seq[String] = Nil, lgK: Int = 12,
      incremental: Boolean = false): Path = {
    import org.apache.spark.sql.functions.col
    val snap = deltaLog.update()
    require(DeltaConfig.UniversalFormats.fromMetadata(snap.metadata)
      .contains("iceberg"),
      "analyzeNdv exports Iceberg table statistics — the table needs " +
        "delta.universalFormat.enabledFormats=iceberg")
    val metaDir = IcebergMetadata.metadataDir(deltaLog)
    val hconf = spark.sessionState.newHadoopConf()
    val fs = metaDir.getFileSystem(hconf)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hintPath = new Path(metaDir, "version-hint.text")
    require(fs.exists(hintPath),
      "no Iceberg metadata generated yet — commit once (or call " +
        "generateIcebergMetadata) before analyzeNdv")
    val hint = {
      val in = fs.open(hintPath)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        "UTF-8").trim
      finally in.close()
    }
    val root = {
      val in = fs.open(new Path(metaDir, s"v$hint.metadata.json"))
      try mapper.readTree(in) finally in.close()
    }
    val curSnapId = root.get("current-snapshot-id").asLong
    import scala.jdk.CollectionConverters._
    val snapNode = root.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curSnapId).getOrElse(
        throw new IllegalStateException(
          s"current snapshot $curSnapId missing from metadata"))
    val seqNum = Option(snapNode.get("sequence-number"))
      .map(_.asLong).getOrElse(0L)
    val curSchemaId = root.get("current-schema-id").asInt
    val fieldIds: Map[String, Int] = root.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt == curSchemaId)
      .map(_.get("fields").elements().asScala
        .map(f => f.get("name").asText -> f.get("id").asInt).toMap)
      .getOrElse(Map.empty)
    val atomic: Set[String] = snap.metadata.schema.fields.collect {
      case f if !f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.VariantType]
        => f.name
    }.toSet
    val cols =
      if (columns.nonEmpty) {
        // resolve case-insensitively like every other Spark SQL surface
        val byLower = fieldIds.keys.map(n => n.toLowerCase -> n).toMap
        columns.map { c =>
          val resolved = byLower.get(c.toLowerCase)
          require(resolved.exists(atomic),
            s"analyzeNdv: '$c' is not a top-level atomic column of the " +
              "Iceberg schema")
          resolved.get
        }
      } else snap.metadata.schema.fields.map(_.name)
        .filter(c => atomic(c) && fieldIds.contains(c)).toSeq
    require(cols.nonEmpty, "analyzeNdv: no eligible columns")
    // ---- incremental eligibility: latest recorded analysis whose
    // snapshot chains to the head through append/replace only, with a
    // readable blob for every requested column
    case class PrevStats(deltaVersion: Long, bodies: Map[Int, Array[Byte]])
    val prevForIncr: Option[PrevStats] =
      if (!incremental) None
      else snap.metadata.configuration.get(IcebergMetadata.StatsMarkerKey)
        .map(mapper.readTree).toSeq.flatMap(_.elements().asScala)
        .flatMap { w =>
          for {
            dv <- Option(w.get("delta-version")).map(_.asLong)
            e <- Option(w.get("entry"))
          } yield (dv, e)
        }
        .sortBy(_._1).lastOption.flatMap { case (dv, e) =>
          val sid = e.get("snapshot-id").asLong
          val byId = root.get("snapshots").elements().asScala
            .map(n => n.get("snapshot-id").asLong -> n).toMap
          @scala.annotation.tailrec
          def chainOk(id: Long): Boolean =
            if (id == sid) true
            else byId.get(id) match {
              case Some(n) =>
                val op = Option(n.get("summary"))
                  .flatMap(su => Option(su.get("operation")))
                  .map(_.asText).getOrElse("")
                val parent = Option(n.get("parent-snapshot-id")).map(_.asLong)
                if ((op == "append" || op == "replace") && parent.isDefined)
                  chainOk(parent.get)
                else false
              case None => false
            }
          if (!chainOk(curSnapId)) None
          else try {
            // the analyzed Delta version must still reconstruct (log
            // retention may have expired it) — probe INSIDE the
            // fallback guard so ANALYZE never fails outright
            deltaLog.snapshotForVersionAsOf(dv)
            val p = new Path(e.get("statistics-path").asText)
            val bodies: Map[Int, Array[Byte]] =
              IcebergPuffin.readStatsBlobs(p, hconf).map {
                case (fid, _, off, len) =>
                  fid -> IcebergPuffin.readBlobBody(p, hconf, off, len)
              }.toMap
            if (cols.forall(c => bodies.contains(fieldIds(c))))
              Some(PrevStats(dv, bodies))
            else None
          } catch { case scala.util.control.NonFatal(_) => None }
        }
    // ---- the scan: full table, or only files absent at the analyzed
    // version (new-files list collected driver-side — bounded by the
    // append rate, the same planning contract as OPTIMIZE)
    val (mode, blobs) = prevForIncr match {
      case Some(ps) =>
        import spark.implicits._
        val prevPaths = deltaLog.snapshotForVersionAsOf(ps.deltaVersion)
          .allFilesDS.map(_.path).toDF("p")
        val newFiles: Seq[AddFile] = snap.allFilesDS.toDF
          .join(prevPaths, col("path") === col("p"), "left_anti")
          .as[AddFile].collect().toSeq
        val k = 1 << lgK
        def merged(c: String,
            fresh: Option[Array[Byte]]): IcebergPuffin.StatsBlob = {
          val (tp, hp) = graft.functions.ThetaSketch
            .deserializeCompact(ps.bodies(fieldIds(c)))
          val (tn, hn) = fresh.map(graft.functions.ThetaSketch
            .deserializeCompact).getOrElse((Long.MaxValue, Array.empty[Long]))
          val t0 = math.min(tp, tn)
          val union = (hp ++ hn).distinct.filter(_ < t0).sorted
          val (theta, retained) =
            if (union.length >= k) (union(k - 1), union.take(k - 1))
            else (t0, union)
          IcebergPuffin.StatsBlob(fieldIds(c),
            math.round(graft.functions.ThetaSketch.estimate(theta, retained.length)),
            graft.functions.ThetaSketch.serializeCompact(theta, retained))
        }
        val freshByCol: Map[String, Array[Byte]] =
          if (newFiles.isEmpty) Map.empty
          else {
            val aggs = cols.map(c =>
              graft.functions.ThetaSketchAgg.thetaSketch(col(c), lgK).as(c))
            val row = readFilesDF(newFiles, snap.metadata)
              .agg(aggs.head, aggs.tail: _*).head()
            cols.zipWithIndex.map { case (c, i) =>
              c -> row.getStruct(i).getAs[Array[Byte]](0)
            }.toMap
          }
        (s"incremental:${newFiles.size}",
          cols.map(c => merged(c, freshByCol.get(c))))
      case None =>
        // ONE scan for all columns; each agg ships bounded sketch partials
        val aggs = cols.map(c =>
          graft.functions.ThetaSketchAgg.thetaSketch(col(c), lgK).as(c))
        val row = toDF.agg(aggs.head, aggs.tail: _*).head()
        (if (incremental) "full-fallback" else "full",
          cols.zipWithIndex.map { case (c, i) =>
            val st = row.getStruct(i)
            IcebergPuffin.StatsBlob(fieldIds(c),
              math.round(st.getDouble(1)), st.getAs[Array[Byte]](0))
          })
    }
    val statsPath = new Path(metaDir, s"stats-$curSnapId-${snap.version}.stats")
    if (fs.exists(statsPath)) fs.delete(statsPath, false)
    val (entryJsons, footerSize, fileLen) = IcebergPuffin.writeStatsFile(
      statsPath, hconf, curSnapId, seqNum, blobs)
    // the statistics entry rides table config; the post-commit
    // generation emits it into the metadata's `statistics` list
    val entry = mapper.createObjectNode()
    entry.put("snapshot-id", curSnapId)
    entry.put("statistics-path", fs.makeQualified(statsPath).toString)
    entry.put("file-size-in-bytes", fileLen)
    entry.put("file-footer-size-in-bytes", footerSize + 16)
    val bm = entry.putArray("blob-metadata")
    entryJsons.foreach(j => bm.add(mapper.readTree(j)))
    // marker element = {"delta-version", "entry"}: the wrapper carries
    // the engine-side scan coverage for incremental ANALYZE; the
    // generator unwraps `entry` into the spec's `statistics` list
    // prune: same-snapshot entries are replaced, and wrappers whose
    // snapshot left the metadata's retention window drop (the generator
    // filters them from the emitted list anyway; without this the
    // config value carried in every commit grows one dead entry per
    // ANALYZE forever)
    val retainedSnapIds: Set[Long] = root.get("snapshots")
      .elements().asScala.map(_.get("snapshot-id").asLong).toSet
    val prior = snap.metadata.configuration
      .get(IcebergMetadata.StatsMarkerKey)
      .map(mapper.readTree).toSeq.flatMap(_.elements().asScala)
      .filter { w =>
        val sid = Option(w.get("entry")).getOrElse(w)
          .get("snapshot-id").asLong
        sid != curSnapId && retainedSnapIds.contains(sid)
      }
    val arr = mapper.createArrayNode()
    prior.foreach(arr.add)
    val wrapper = arr.addObject()
    wrapper.put("delta-version", snap.version)
    wrapper.set[com.fasterxml.jackson.databind.node.ObjectNode]("entry", entry)
    val txn = deltaLog.startTransaction()
    txn.updateMetadata(snap.metadata.copy(
      configuration = snap.metadata.configuration +
        (IcebergMetadata.StatsMarkerKey -> mapper.writeValueAsString(arr))))
    txn.commit(Nil, Op.SetTableProperties,
      operationParameters = Map(
        "analyzedColumns" -> cols.mkString(","),
        "mode" -> mode,
        "statisticsPath" -> statsPath.toString))
    statsPath
  }

  /** COPY INTO: idempotent bulk file ingestion (see [[CopyInto]]). */
  def copyInto(source: String, format: String = "parquet",
      pattern: Option[String] = None, force: Boolean = false,
      mergeSchema: Boolean = false): CopyInto.Result =
    CopyInto.run(this, source, format, pattern, force, mergeSchema)

  /** GENERATE symlink_format_manifest: one text manifest per partition
    * listing the snapshot's live data files as absolute URIs — the layout
    * Hive/Presto/Athena's `SymlinkTextInputFormat` consumes (delta-spark's
    * GENERATE command). The manifest tree is rebuilt DISTRIBUTED: paths
    * group by partition directory on executors and each task writes its
    * partitions' manifests — no driver-side loop over 100k partitions.
    * The previous tree is removed first, so partitions dropped since the
    * last GENERATE don't leave stale manifests (external readers see the
    * swap mid-rebuild; symlink manifests are inherently non-transactional).
    * Deletion-vector and column-mapping tables are rejected: a symlink
    * reader would see raw (undeleted / physically-named) data.
    */
  def generateSymlinkManifest(): Unit = {
    import spark.implicits._
    val s = deltaLog.update()
    require(s.dvFiles.isEmpty,
      "GENERATE symlink_format_manifest: table has deletion vectors; " +
        "run REORG TABLE ... APPLY (PURGE) first")
    require(!ColumnMapping.enabled(s.metadata),
      "GENERATE symlink_format_manifest: column-mapping tables are not " +
        "readable through symlink manifests")
    // shallow clones record ABSOLUTE AddFile paths: a manifest dir derived
    // from them would land inside the SOURCE table's directories
    require({
      import org.apache.spark.sql.functions.col
      // scheme-prefixed (file:/x, s3://b/x — hive-escaping encodes ':' in
      // relative dirs, so a raw scheme can only be an absolute URI) or
      // rooted paths are absolute
      s.activeFilesDF.where(col("path").rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:/") ||
        col("path").startsWith("/")).limit(1).count() == 0
    }, "GENERATE symlink_format_manifest: table references absolute file " +
        "paths (shallow clone?); deep-copy the table first")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = deltaLog.dataPath.getFileSystem(hadoopConf)
    val rootQ = fs.makeQualified(deltaLog.dataPath).toString
    val manifestRoot = new Path(rootQ, "_symlink_format_manifest")
    fs.delete(manifestRoot, true)
    val serConf = new SerializableHadoopConf(hadoopConf)
    val manifestRootStr = manifestRoot.toString
    s.allFilesDS
      .map { f =>
        val rel = f.path
        val idx = rel.lastIndexOf('/')
        val dir = if (idx < 0) "" else FileNames.percentDecode(rel.substring(0, idx))
        (dir, FileNames.absolutePathString(new Path(rootQ), rel))
      }
      .groupByKey(_._1)
      .mapGroups { (dir, it) =>
        val f = new Path(manifestRootStr).getFileSystem(serConf.value)
        val target =
          if (dir.isEmpty) new Path(manifestRootStr, "manifest")
          else new Path(new Path(manifestRootStr, dir), "manifest")
        f.mkdirs(target.getParent)
        val out = f.create(target, true)
        try it.map(_._2).toSeq.sorted
          .foreach(u => out.write((u + "\n").getBytes("UTF-8")))
        finally out.close()
        dir
      }
      .collect()
    ()
  }

  // ---------------------------------------------------------------- DML

  /** Read specific table files with deletion vectors applied and the
    * normalized `__fp`/`__ri` row-identity columns retained — the common
    * base for every DML scan (matching, rewriting, CDC capture), so no
    * rewrite can ever resurrect a DV-deleted row.
    *
    * When every path is table-relative (the normal case), ONE parquet
    * scan with `basePath` recovers the hive partition columns. When any
    * path is an absolute external URI (a shallow clone referencing the
    * source table's files), partition values are attached from the LOG's
    * `partitionValues` instead — a broadcast join on file identity, one
    * row per file — because `basePath` cannot span foreign roots.
    */
  private[delta] def readFilesKeyed(files: Seq[AddFile], md: Metadata,
      extraPhysical: Seq[org.apache.spark.sql.types.StructField] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    ColumnMapping.prepareRead(spark, md)
    val partCols = md.partitionColumns
    val paths = files.map(f => FileNames.absolutePathString(deltaLog.dataPath, f.path))
    val external = files.exists(f => FileNames.isAbsolute(f.path))
    if (!external) {
      val raw = spark.read
        .schema(org.apache.spark.sql.types.StructType(
          ColumnMapping.physicalSchema(md).fields ++ extraPhysical))
        .option("basePath", deltaLog.dataPath.toString)
        .parquet(paths: _*)
      val keyed = ReadDefaults.fill(spark, deltaLog.dataPath, files, md,
        DeletionVectors.filterDeleted(spark, deltaLog.dataPath, files, raw,
          keepKeys = true), col("__fp"))
      ColumnMapping.toLogical(md, keyed,
        extra = Seq("__fp", "__ri") ++ extraPhysical.map(_.name))
    } else {
      val dataSchema = org.apache.spark.sql.types.StructType(
        ColumnMapping.physicalSchema(md).fields
          .filterNot(f => partCols.contains(f.name)) ++ extraPhysical)
      val raw = spark.read.schema(dataSchema).parquet(paths: _*)
      var keyed = DeletionVectors.filterDeleted(spark, deltaLog.dataPath, files, raw,
        keepKeys = true)
      if (partCols.nonEmpty) {
        // keys use the same normalized form __fp carries (scheme-collapsed
        // decoded path — see DeletionVectors.normFp / filesOf)
        val pvRows = files.map { f =>
          Row.fromSeq(
            normPath(FileNames.absolutePathString(deltaLog.dataPath, f.path)) +:
              partCols.map(c => f.partitionValues.get(c).flatMap(Option(_)).orNull))
        }
        val pvSchema = org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("__pv_fp",
            org.apache.spark.sql.types.StringType) +:
            partCols.map(c => org.apache.spark.sql.types.StructField(s"__pv_$c",
              org.apache.spark.sql.types.StringType)))
        import scala.jdk.CollectionConverters._
        val pv = spark.createDataFrame(pvRows.asJava, pvSchema)
        keyed = keyed.join(broadcast(pv), col("__fp") === col("__pv_fp"), "left")
        partCols.foreach { c =>
          keyed = keyed.withColumn(c, col(s"__pv_$c").cast(md.schema(c).dataType))
        }
        keyed = keyed.drop("__pv_fp" +: partCols.map(c => s"__pv_$c"): _*)
      }
      keyed = ReadDefaults.fill(spark, deltaLog.dataPath, files, md, keyed,
        col("__fp"))
      ColumnMapping.toLogical(md, keyed,
        extra = Seq("__fp", "__ri") ++ extraPhysical.map(_.name))
    }
  }

  /** Read specific table files as a DataFrame (partition columns recovered
    * from the hive paths via basePath), columns in metadata order, DVs
    * applied.
    */
  private[delta] def readFilesDF(files: Seq[AddFile], md: Metadata): DataFrame = {
    import org.apache.spark.sql.functions.col
    readFilesKeyed(files, md).select(md.schema.fieldNames.map(col).toSeq: _*)
  }

  /** Decoded absolute path — the common form between `_metadata.file_path`
    * strings and AddFile relative paths.
    */
  private[delta] def normPath(s: String): String =
    new Path(new java.net.URI(s)).toUri.getPath

  /** The candidates holding a row of `keyed` (a filtered
    * [[readFilesKeyed]] scan): only distinct file paths come back to the
    * driver, never rows, and Catalyst prunes the read to the filter's
    * columns.
    */
  private def filesOf(keyed: DataFrame, candidates: Seq[AddFile]): Seq[AddFile] = {
    val hit = keyed.select(org.apache.spark.sql.functions.col("__fp")).distinct()
      .collect().map(r => normPath(r.getString(0))).toSet
    candidates.filter(f =>
      hit(normPath(FileNames.absolutePathString(deltaLog.dataPath, f.path))))
  }

  /** Σ live rows over `files` from their stats (`numRecords` less the
    * deletion vector's cardinality); None when any file lacks them
    * (metrics must be exact or absent, never guessed).
    */
  private[delta] def rowsFromStats(files: Seq[AddFile]): Option[Long] = {
    val counts = files.map(f => Stats.numRecords(f.stats)
      .map(_ - DeletionVectors.descriptor(f).map(_.cardinality).getOrElse(0L)))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** What [[rewriteWhere]] hands its caller to commit: the file actions,
    * extra operation parameters and DELETE's row metrics.
    */
  private case class RowRewrite(actions: Seq[Action],
      params: Map[String, String] = Map.empty, metrics: Map[String, String] = Map.empty)

  /** The row-level rewrite behind DELETE, UPDATE and replaceWhere. Rows
    * matching `condition` are deleted (`set = None`) or replaced by their
    * updated image (every SET expression sees the OLD row); rows where
    * the condition is NULL are kept, per SQL. The caller commits the
    * result under its own operation.
    *
    *  - Candidates come from `txn.markFilesAsRead`, so the commit records
    *    the condition as its conflict read.
    *  - A delete whose condition is partition-only removes the candidates
    *    whole, without a match scan.
    *  - Copy-on-write: one scan finds the files holding matches and one
    *    projection rewrites them — matched rows dropped or updated, the
    *    rest copied. Under row tracking every row keeps its id, and an
    *    unchanged row its commit version, materialized in the new files.
    *  - Deletion vectors (`delta.enableDeletionVectors`): one keyed scan
    *    of the matched rows masks their positions ([[dvMask]]); an update
    *    appends only the new images, each keeping its row id.
    *  - Change data feed: `delete` rows, or `update_preimage` and
    *    `update_postimage` rows, plus `inserted` as `insert` rows, in one
    *    set of change files.
    */
  private def rewriteWhere(txn: OptimisticTransaction, condition: Column,
      set: Option[Map[String, Column]], inserted: Option[DataFrame] = None): RowRewrite = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not, when}
    val md = txn.metadata
    val candidates = txn.markFilesAsRead(condition)
    val condTrue = coalesce(condition, lit(false))
    val now = deltaLog.clock.nowMillis
    val fields = md.schema.fields.toSeq
    val schemaCols = fields.map(f => col(f.name))
    // a matched row's new image: SET columns replaced, the rest as-is
    def image(f: org.apache.spark.sql.types.StructField): Column =
      set.flatMap(_.get(f.name)).fold(col(f.name))(_.cast(f.dataType))
    // change rows for the matched rows `old`, plus the inserted data
    def cdc(old: => DataFrame): Seq[Action] =
      if (!DeltaConfig.EnableChangeDataFeed.fromMetadata(md)) Nil
      else {
        val pre = old.select(schemaCols: _*)
        val changes = set match {
          case None => pre.withColumn("_change_type", lit("delete"))
          case Some(_) => pre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(old.select(fields.map(f => image(f).as(f.name)): _*)
              .withColumn("_change_type", lit("update_postimage")))
        }
        DeltaTable.writeCdcFiles(spark, deltaLog.dataPath, inserted.fold(changes)(d =>
          changes.unionByName(d.select(schemaCols: _*)
            .withColumn("_change_type", lit("insert")))), md)
      }
    // DELETE's exact row metrics from file stats: the removed files' rows
    // less those copied into `copies`
    def deleted(removed: Seq[AddFile], copies: Seq[AddFile]): Map[String, String] =
      (rowsFromStats(removed), rowsFromStats(copies)) match {
        case (Some(rm), Some(cp)) if set.isEmpty =>
          Map("numDeletedRows" -> (rm - cp).toString, "numCopiedRows" -> cp.toString)
        case _ => Map.empty
      }

    if (set.isEmpty && DeltaScan(txn.snapshot, Some(condition)).residualPredicates.isEmpty)
      return RowRewrite(candidates.map(_.remove(now)) ++
        (if (candidates.isEmpty) Nil else cdc(readFilesDF(candidates, md))),
        metrics = deleted(candidates, Nil))
    if (candidates.isEmpty) return RowRewrite(Nil)

    if (DeltaConfig.EnableDeletionVectors.fromMetadata(md)) {
      // row ids are resolved only for the new images of an update
      val rt = set.isDefined && RowTracking.enabled(md)
      val matched = (if (rt) rowIdResolved(candidates, md)
        else readFilesKeyed(candidates, md)).filter(condTrue).persist()
      try {
        val (masks, deletedRows) = dvMask(txn, matched, candidates)
        if (masks.isEmpty) return RowRewrite(Nil)
        // the new image keeps the old row's id; its commit version comes
        // from the new file's default (this commit)
        val images =
          if (set.isEmpty) Nil
          else DeltaTable.writeFiles(spark, deltaLog.dataPath,
            matched.select(fields.map(f => image(f).as(f.name)) ++
              (if (rt) DeltaTable.lineage(col("__rt_row_id"), lit(null)) else Nil): _*),
            md.partitionColumns, md)
        // every file dvMask re-adds carries its new DV
        RowRewrite(masks ++ images ++ cdc(matched), Map("mode" -> "deletion-vectors"),
          if (set.isDefined) Map.empty
          else Map("numDeletedRows" -> deletedRows.toString,
            "numDeletionVectorsAdded" -> masks.count(_.isInstanceOf[AddFile]).toString))
      } finally matched.unpersist()
    } else {
      val touched = filesOf(readFilesKeyed(candidates, md).filter(condTrue), candidates)
      if (touched.isEmpty) return RowRewrite(Nil)
      val rt = RowTracking.enabled(md)
      val old = if (rt) rowIdResolved(touched, md) else readFilesDF(touched, md)
      // one projection over the old row: the image where matched, else
      // as-is; an updated row keeps its id, and its commit version falls
      // back to the new file's default (this commit)
      val rewritten = (if (set.isEmpty) old.filter(not(condTrue)) else old).select(
        fields.map(f => when(condTrue, image(f)).otherwise(col(f.name)).as(f.name)) ++
          (if (rt) DeltaTable.lineage(col("__rt_row_id"),
            when(condTrue, lit(null)).otherwise(col("__rt_rcv")))
          else Nil): _*)
      val adds = DeltaTable.writeFiles(spark, deltaLog.dataPath, rewritten,
        md.partitionColumns, md)
      RowRewrite(touched.map(_.remove(now)) ++ adds ++ cdc(old.filter(condTrue)),
        metrics = deleted(touched, adds))
    }
  }

  /** Row-level DELETE of the rows matching `condition` (NULL keeps the
    * row); see [[rewriteWhere]]. Use [[deleteWhere]] to insist that the
    * predicate is partition-only.
    */
  def delete(condition: Column): Long = {
    val txn = deltaLog.startTransaction()
    if (txn.snapshot.metadataOpt.isEmpty) return txn.readVersion
    val rw = rewriteWhere(txn, condition, None)
    if (rw.actions.isEmpty) return txn.readVersion
    txn.commit(rw.actions, Op.Delete,
      operationParameters = Map("predicate" -> condition.toString) ++ rw.params,
      operationMetrics = rw.metrics)
  }

  /** Shared DV masking: write merged per-file deletion vectors covering
    * the LIVE matched rows of a keyed scan (`__fp`/`__ri` columns, prior
    * DVs already excluded) and return the protocol-upgrade +
    * remove/re-add actions with the number of rows newly deleted. A
    * file whose new DV covers every row its stats count is removed, not
    * re-added. Empty when nothing matched.
    */
  private[delta] def dvMask(txn: OptimisticTransaction, matched: DataFrame,
      candidates: Seq[AddFile]): (Seq[Action], Long) = {
    import org.apache.spark.sql.functions.col
    val touched = filesOf(matched, candidates)
    if (touched.isEmpty) return (Nil, 0L)
    // new DV per touched file = fresh matches + its prior DV rows
    val fresh = matched.select(col("__fp").as("fp"), col("__ri").as("ri"))
    val allRows = DeletionVectors.rowsDF(spark, deltaLog.dataPath, touched)
      .map(p => fresh.unionByName(p)).getOrElse(fresh)
    val descByFp = DeletionVectors.write(spark, deltaLog.dataPath, allRows)
      .map { case (fp, d) => normPath(fp) -> d }
    val now = deltaLog.clock.nowMillis
    val masked = touched.map(f =>
      f -> descByFp(normPath(FileNames.absolutePathString(deltaLog.dataPath, f.path))))
    val deletedRows = masked.map { case (f, d) =>
      d.cardinality - DeletionVectors.descriptor(f).map(_.cardinality).getOrElse(0L)
    }.sum
    val actions = masked.flatMap { case (f, d) =>
      if (Stats.numRecords(f.stats).contains(d.cardinality)) Seq(f.remove(now))
      else Seq(f.remove(now), DeletionVectors.withDescriptor(f, d))
    }
    // first DV on the table upgrades to reader 3 / writer 7 + feature,
    // per the protocol — stock readers gate on it before trusting DVs
    val protoUp: Seq[Action] =
      if (!actions.exists(_.isInstanceOf[AddFile])) Nil
      else Protocol.requireReaderWriterFeature(txn.snapshot.protocol, "deletionVectors").toSeq
    (protoUp ++ actions, deletedRows)
  }

  /** Row-level UPDATE: `set` maps column name -> new-value expression,
    * all evaluated against the OLD row (standard UPDATE semantics — set
    * expressions never see each other's results); see [[rewriteWhere]].
    * Partition-column updates move rows between partitions naturally
    * through the partitioned write.
    */
  def update(condition: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val txn = deltaLog.startTransaction()
    if (txn.snapshot.metadataOpt.isEmpty) return txn.readVersion
    val unknown = set.keySet -- txn.metadata.schema.fieldNames
    require(unknown.isEmpty, s"SET references unknown columns: ${unknown.mkString(", ")}")
    val rw = rewriteWhere(txn, condition, Some(set))
    if (rw.actions.isEmpty) return txn.readVersion
    txn.commit(rw.actions, Op.Update,
      operationParameters = Map(
        "predicate" -> condition.toString,
        "setColumns" -> set.keys.toSeq.sorted.mkString(",")) ++ rw.params)
  }

  /** MERGE INTO builder: the target is addressable as `t.<col>` and the
    * source as `s.<col>` in the condition and in all clause expressions.
    * See [[MergeBuilder]] for the clause surface and the two-phase
    * execution shape.
    */
  def merge(source: DataFrame, condition: Column): MergeBuilder =
    new MergeBuilder(this, source, condition)

  // ------------------------------------------------- schema DDL (mapping)

  /** RENAME COLUMN: a metadata-only commit — the parquet files keep the
    * old (now physical) name and reads map it to the new logical name.
    * Enables `delta.columnMapping.mode=name` on first use. Partition
    * columns are rejected (their name keys the on-disk dir layout).
    */
  def renameColumn(oldName: String, newName: String): Long = {
    val txn = deltaLog.startTransaction()
    val md = ColumnMapping.ensureEnabled(txn.metadata)
    require(md.schema.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!md.schema.fieldNames.contains(newName), s"column already exists: $newName")
    require(!md.partitionColumns.contains(oldName), s"cannot rename partition column $oldName")
    requireUnconstrained(md, oldName, "rename")
    val renamed = org.apache.spark.sql.types.StructType(
      md.schema.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f))
    txn.updateMetadata(md.copy(schemaString = renamed.json))
    txn.commit(Nil, Op.RenameColumn,
      operationParameters = Map("from" -> oldName, "to" -> newName))
  }

  /** DROP COLUMN: metadata-only — the physical column stays in the files
    * but is never read again; re-adding the same logical name later gets
    * a fresh physical id, so the old data cannot resurface.
    */
  def dropColumn(name: String): Long = {
    val txn = deltaLog.startTransaction()
    val md = ColumnMapping.ensureEnabled(txn.metadata)
    require(md.schema.fieldNames.contains(name), s"no such column: $name")
    require(!md.partitionColumns.contains(name), s"cannot drop partition column $name")
    require(md.schema.fields.length > 1, "cannot drop the last column")
    requireUnconstrained(md, name, "drop")
    val remaining = org.apache.spark.sql.types.StructType(
      md.schema.fields.filterNot(_.name == name))
    txn.updateMetadata(md.copy(schemaString = remaining.json))
    txn.commit(Nil, Op.DropColumn, operationParameters = Map("column" -> name))
  }

  /** RENAME/DROP of a column referenced by a CHECK constraint is rejected
    * (the stored SQL expression would silently stop resolving).
    */
  private def requireUnconstrained(md: Metadata, column: String, op: String): Unit = {
    val hit = Constraints.fromMetadata(md).filter { case (_, sql) =>
      Constraints.referencedColumns(spark, sql).exists(_.equalsIgnoreCase(column))
    }
    require(hit.isEmpty,
      s"cannot $op column $column: referenced by CHECK constraint(s) ${hit.keys.mkString(", ")}")
  }

  /** ADD COLUMNS: metadata-only schema evolution — the new columns are
    * appended nullable (old files read them as null), with fresh physical
    * ids under column mapping so a re-added name can never resurrect
    * dropped parquet data. Same semantics as a mergeSchema append, minus
    * the data.
    */
  def addColumns(cols: org.apache.spark.sql.types.StructType): Long = {
    val txn = deltaLog.startTransaction()
    require(txn.snapshot.metadataOpt.isDefined, "table does not exist")
    val md = txn.metadata
    val clash = cols.fieldNames.filter(md.schema.fieldNames.contains)
    require(clash.isEmpty, s"column(s) already exist: ${clash.mkString(", ")}")
    var mx = ColumnMapping.maxId(md.schema)
    val annotated = cols.fields.map { f =>
      if (ColumnMapping.enabled(md)) {
        val a = ColumnMapping.freshField(f.copy(nullable = true), mx); mx += 1; a
      } else f.copy(nullable = true)
    }
    txn.updateMetadata(md.copy(schemaString =
      org.apache.spark.sql.types.StructType(md.schema.fields ++ annotated).json))
    txn.commit(Nil, Op.AddColumns,
      operationParameters = Map("columns" -> cols.fieldNames.mkString(",")))
  }

  // ---------------------------------------------------------- constraints

  /** The CHECK constraints on this table (name -> SQL expression). */
  def constraints: Map[String, String] = Constraints.fromMetadata(snapshot.metadata)

  /** ADD CONSTRAINT: stores `delta.constraints.<name> = expression` in the
    * table configuration (the open Delta convention) after verifying the
    * EXISTING data satisfies it — one scan that short-circuits at the
    * first violation. Every subsequent write enforces the constraint
    * inside its own write pass (see [[Constraints.enforce]]). Bumps the
    * writer protocol to v3, per the Delta constraints spec.
    */
  /** ALTER COLUMN ... SET DEFAULT: attaches `CURRENT_DEFAULT` metadata to
    * an EXISTING column ([[ColumnDefaults]]; writer feature
    * `allowColumnDefaults` is stamped by the commit). Affects only future
    * writes that omit the column — live files already materialize it (or
    * null-fill if the column predates them), so no read-time fill is
    * needed. The expression must analyze against a rowless plan now, not
    * fail at the next write.
    */
  def setColumnDefault(name: String, defaultSql: String): Long = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val txn = deltaLog.startTransaction()
    require(txn.snapshot.metadataOpt.isDefined, "table does not exist")
    val md = txn.metadata
    val schema = md.schema
    require(schema.fieldNames.contains(name), s"no such column: $name")
    // analysis-only validation (no evaluation: CURRENT_DATE-style
    // defaults must evaluate at write time, not now)
    spark.range(1).select(expr(defaultSql).cast(schema(name).dataType)).schema
    val updated = StructType(schema.fields.map { f =>
      if (f.name == name)
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(ColumnDefaults.CurrentKey, defaultSql).build())
      else f
    })
    txn.updateMetadata(md.copy(schemaString = updated.json))
    txn.commit(Nil, Op.ChangeColumn,
      operationParameters = Map("column" -> name, "default" -> defaultSql))
  }

  /** ALTER COLUMN ... DROP DEFAULT (future writes must supply the column
    * again; a no-op when no default is declared).
    */
  def dropColumnDefault(name: String): Long = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    val txn = deltaLog.startTransaction()
    require(txn.snapshot.metadataOpt.isDefined, "table does not exist")
    val md = txn.metadata
    val updated = StructType(md.schema.fields.map { f =>
      if (f.name == name && f.metadata.contains(ColumnDefaults.CurrentKey)) {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        mb.remove(ColumnDefaults.CurrentKey)
        f.copy(metadata = mb.build())
      } else f
    })
    txn.updateMetadata(md.copy(schemaString = updated.json))
    txn.commit(Nil, Op.ChangeColumn, operationParameters = Map("column" -> name))
  }

  /** Explicit protocol upgrade (delta-spark's `upgradeTableProtocol`):
    * raise the table to at least (readerVersion, writerVersion) in one
    * metadata-only commit. Downgrades are rejected; upgrading to the
    * table-features versions (3/7) lists the old versions' implicit
    * features explicitly, per the public table-features spec, so
    * feature-gating clients keep working.
    */
  def upgradeTableProtocol(readerVersion: Int, writerVersion: Int): Long = {
    val txn = deltaLog.startTransaction()
    val p = txn.snapshot.protocol
    require(readerVersion >= p.minReaderVersion && writerVersion >= p.minWriterVersion,
      s"cannot downgrade protocol $p to ($readerVersion, $writerVersion); " +
        "use DROP FEATURE to shed capabilities")
    if (readerVersion == p.minReaderVersion && writerVersion == p.minWriterVersion)
      return txn.readVersion
    require(readerVersion <= 3 && writerVersion <= 7 &&
        readerVersion >= 1 && writerVersion >= 1,
      s"unsupported protocol version ($readerVersion, $writerVersion)")
    // moving onto table features: the old versions' implicit features
    // become the explicit listing, per the table-features spec. Writer 7
    // with reader < 3 is the spec's writerFeatures-only form — reader
    // capabilities stay implicit in the reader version number, so a
    // requested (1,7)/(2,7) must NOT be silently raised to (3,7) (that
    // would lock out legacy readers for no reason).
    val target =
      if (readerVersion == 3)
        Protocol(3, 7,
          Some(p.readerFeatures.getOrElse(Set.empty) ++
            Protocol.readerImplicits(p.minReaderVersion)),
          Some(p.writerFeatures.getOrElse(Set.empty) ++
            Protocol.writerImplicits(p.minWriterVersion)))
      else if (writerVersion == 7)
        Protocol(readerVersion, 7, None,
          Some(p.writerFeatures.getOrElse(Set.empty) ++
            Protocol.writerImplicits(p.minWriterVersion)))
      else p.copy(minReaderVersion = readerVersion,
        minWriterVersion = writerVersion)
    txn.commit(Seq(target), Op.UpgradeProtocol,
      operationParameters = Map("newProtocol" ->
        s"(${target.minReaderVersion},${target.minWriterVersion})"))
  }

  /** `ALTER TABLE ... DROP FEATURE` (delta-spark public surface): remove
    * `name` from the protocol's feature sets, but ONLY when the current
    * table state carries no trace of it — dropping `checkConstraints`
    * while constraints exist would let a non-supporting writer commit
    * violating rows into someone else's contract. For a READER+writer
    * feature the current state is not enough: historical commits may
    * still use it, so the drop additionally demands the explicit
    * `TRUNCATE HISTORY` opt-in, which checkpoints the current snapshot
    * and deletes every earlier log artifact (time travel before the
    * drop is gone, by definition — the delta-spark contract). Unknown
    * features are refused: we cannot validate traces of semantics we
    * don't implement.
    */
  def dropFeature(name: String, truncateHistory: Boolean = false): Long = {
    val txn = deltaLog.startTransaction()
    val s = txn.snapshot
    val p = s.protocol
    val inReader = p.readerFeatures.exists(_.contains(name))
    val inWriter = p.writerFeatures.exists(_.contains(name))
    require(inReader || inWriter,
      s"feature $name is not listed in the table protocol ($p)")
    require(Snapshot.SupportedReaderFeatures.contains(name) ||
        Snapshot.SupportedWriterFeatures.contains(name),
      s"cannot drop unknown feature $name: its traces cannot be validated")
    val md = txn.metadata
    val traces = featureTraces(name, md, s)
    if (traces.nonEmpty)
      throw new IllegalStateException(
        s"cannot drop feature $name: the table still uses it (${traces.mkString("; ")})")
    if (inReader) {
      require(truncateHistory,
        s"dropping reader+writer feature $name requires TRUNCATE HISTORY: " +
          "historical commits may still use it")
      deltaLog.truncateHistory(s)
      // checkpointProtection (public spec): commits at or below the drop
      // boundary may still reference the dropped feature's protocol —
      // forbid OTHER writers from checkpointing below it, and make
      // routine log cleanup sweep the region atomically. The boundary is
      // the version this commit lands at; a retry can only land HIGHER,
      // and a lower-than-actual boundary is still sound (it protects a
      // superset of nothing it shouldn't).
      txn.updateMetadata(txn.metadata.copy(configuration =
        txn.metadata.configuration +
          (DeltaConfig.RequireCheckpointProtectionBeforeVersion.key ->
            (txn.readVersion + 1).toString)))
    }
    val newProtocol = p.copy(
      readerFeatures = p.readerFeatures.map(_ - name),
      writerFeatures = p.writerFeatures.map(w =>
        if (inReader) w - name + "checkpointProtection" else w - name))
    txn.commit(Seq(newProtocol), Op.DropFeature,
      operationParameters = Map("feature" -> name,
        "truncateHistory" -> truncateHistory.toString))
  }

  /** Current-state traces of `name` that make it undroppable (empty =
    * droppable). Conservative: config flags, schema metadata, live DVs,
    * live domain metadata.
    */
  private def featureTraces(name: String, md: Metadata, s: Snapshot): Seq[String] = {
    def flag(cond: Boolean, what: String): Seq[String] =
      if (cond) Seq(what) else Nil
    name match {
      case "checkConstraints" =>
        val cs = Constraints.fromMetadata(md)
        flag(cs.nonEmpty, s"CHECK constraints ${cs.keys.mkString(",")}")
      case "invariants" =>
        flag(Constraints.legacyInvariants(md.schema).nonEmpty,
          "delta.invariants field metadata present")
      case "generatedColumns" =>
        val gs = GeneratedColumns.expressions(md)
        flag(gs.nonEmpty, s"generated columns ${gs.keys.mkString(",")}")
      case "identityColumns" =>
        flag(IdentityColumns.specs(md).nonEmpty, "identity columns present")
      case "allowColumnDefaults" =>
        flag(ColumnDefaults.defaults(md).nonEmpty, "column DEFAULTs present")
      case "changeDataFeed" =>
        flag(DeltaConfig.EnableChangeDataFeed.fromMetadata(md),
          "delta.enableChangeDataFeed=true")
      case "appendOnly" =>
        flag(DeltaConfig.AppendOnly.fromMetadata(md), "delta.appendOnly=true")
      case "columnMapping" =>
        flag(ColumnMapping.mode(md) != "none",
          s"delta.columnMapping.mode=${ColumnMapping.mode(md)}")
      case "deletionVectors" =>
        import org.apache.spark.sql.functions.col
        flag(DeltaConfig.EnableDeletionVectors.fromMetadata(md),
          "delta.enableDeletionVectors=true") ++
        flag(s.allFilesDS.filter(col("deletionVector").isNotNull).limit(1)
          .count() > 0, "live deletion vectors (run REORG APPLY PURGE first)")
      case "rowTracking" =>
        flag(DeltaConfig.RowTracking.fromMetadata(md),
          "delta.enableRowTracking=true")
      case "typeWidening" =>
        flag(DeltaConfig.EnableTypeWidening.fromMetadata(md),
          "delta.enableTypeWidening=true")
      case "timestampNtz" =>
        flag(md.schemaString != null && md.schemaString.contains("timestamp_ntz"),
          "TIMESTAMP_NTZ column in schema")
      case "variantType" =>
        flag(md.schemaString != null && md.schemaString.contains("\"variant\""),
          "VARIANT column in schema")
      case "domainMetadata" =>
        flag(s.domainMetadataMap.nonEmpty,
          s"live domains ${s.domainMetadataMap.keys.mkString(",")}")
      case "v2Checkpoint" =>
        flag(DeltaConfig.CheckpointPolicy.fromMetadata(md) == "v2",
          "delta.checkpointPolicy=v2")
      case "inCommitTimestamp" =>
        flag(DeltaConfig.InCommitTimestamps.fromMetadata(md),
          "delta.enableInCommitTimestamps=true")
      case "vacuumProtocolCheck" => Nil // pure gate, no table footprint
      case "checkpointProtection" =>
        flag(DeltaConfig.RequireCheckpointProtectionBeforeVersion
            .fromMetadata(md) > 0L,
          "delta.requireCheckpointProtectionBeforeVersion is set " +
            "(clear it once the protected region has been cleaned)")
      case _ => Nil
    }
  }

  /** `ALTER TABLE ... ALTER COLUMN c TYPE t` — the DDL face of type
    * widening (A54): a pure metadata commit over the lossless widening
    * matrix, gated by `delta.enableTypeWidening` like the write path;
    * existing narrow files stay live and promote at scan time. Lossy or
    * unsupported changes are rejected.
    */
  def alterColumnType(name: String, to: org.apache.spark.sql.types.DataType): Long = {
    val txn = deltaLog.startTransaction()
    val md = txn.metadata
    val f = md.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"column $name not found in schema (${md.schema.fieldNames.mkString(", ")})"))
    if (f.dataType == to) return txn.readVersion
    require(TypeWidening.canWiden(f.dataType, to),
      s"cannot change type of column $name: ${f.dataType.simpleString} -> " +
        s"${to.simpleString} is not a lossless widening")
    require(DeltaConfig.EnableTypeWidening.fromMetadata(md),
      "type widening is disabled: set delta.enableTypeWidening = true")
    val widened = org.apache.spark.sql.types.StructType(md.schema.fields.map { wf =>
      if (wf.name == f.name) TypeWidening.widenField(wf, to) else wf
    })
    txn.updateMetadata(md.copy(schemaString = widened.json))
    txn.commit(Nil, Op.ChangeColumn, operationParameters =
      Map("column" -> f.name, "type" -> to.simpleString))
  }

  def addConstraint(name: String, expression: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val txn = deltaLog.startTransaction()
    require(txn.snapshot.metadataOpt.isDefined, "table does not exist")
    val md = txn.metadata
    val key = Constraints.Prefix + name
    require(!md.configuration.contains(key), s"constraint $name already exists")
    val bad = readSnapshot(txn.snapshot, None)
      .filter(not(coalesce(expr(expression), lit(true))))
      .limit(1).count()
    require(bad == 0, s"existing rows violate CHECK constraint $name ($expression)")
    txn.updateMetadata(md.copy(configuration = md.configuration + (key -> expression)))
    val protoBump: Seq[Action] =
      if (txn.snapshot.protocol.minWriterVersion < 3)
        Seq(txn.snapshot.protocol.copy(minWriterVersion = 3))
      else Nil
    txn.commit(protoBump, Op.AddConstraint,
      operationParameters = Map("name" -> name, "expr" -> expression))
  }

  /** DROP CONSTRAINT: removes the configuration key; a no-op commit is
    * still recorded for audit.
    */
  def dropConstraint(name: String): Long = {
    val txn = deltaLog.startTransaction()
    val md = txn.metadata
    val key = Constraints.Prefix + name
    require(md.configuration.contains(key), s"no such constraint: $name")
    txn.updateMetadata(md.copy(configuration = md.configuration - key))
    txn.commit(Nil, Op.DropConstraint, operationParameters = Map("name" -> name))
  }

  // -------------------------------------------------------------- restore

  /** RESTORE TABLE ... TO VERSION AS OF: rolls the table state back to a
    * previous version as a NEW commit (the history is preserved — restore
    * is itself time-travelable). The file diff between the current and
    * target snapshots is computed as distributed anti-joins on path, and
    * the existence of every re-surfaced file is checked on executors (a
    * VACUUM may have deleted files the target version needs — that fails
    * the restore, matching Delta semantics). The diff is the commit's
    * Dataset body: it never lands on the driver as a whole.
    */
  def restoreToVersion(version: Long): Long =
    restore(deltaLog.snapshotForVersionAsOf(version),
      Map("versionAsOf" -> version.toString))

  /** RESTORE TABLE ... TO TIMESTAMP AS OF — see [[restoreToVersion]]. */
  def restoreToTimestamp(timestampMillis: Long): Long =
    restore(deltaLog.snapshotForTimestampAsOf(timestampMillis),
      Map("timestampAsOf" -> timestampMillis.toString))

  private def restore(target: Snapshot, params: Map[String, String]): Long = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val txn = deltaLog.startTransaction()
    txn.readWholeTable()
    val current = txn.snapshot
    // file identity = (path, deletion-vector id): the same data file on
    // both sides with a DIFFERENT DV (or one side DV'd) must be
    // remove+re-added, or a restore across a merge-on-read DELETE would
    // silently keep the newer mask. Within one commit the re-add beats
    // the remove during replay, so paths in both sets land correctly.
    val dvk = org.apache.spark.sql.functions.when(
      col("deletionVector").isNotNull,
      org.apache.spark.sql.functions.concat_ws("@",
        col("deletionVector.storageType"), col("deletionVector.pathOrInlineDv"),
        col("deletionVector.offset").cast("string")))
      .otherwise(org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.element_at(
          col("tags"), DeletionVectors.PathTag),
        org.apache.spark.sql.functions.lit("")))
    val cur = current.allFilesDS.withColumn("__dvk", dvk)
    val tgt = target.allFilesDS.withColumn("__dvk", dvk)
    val key = Seq("path", "__dvk")
    val toAdd = tgt.join(cur.select(key.map(col): _*), key, "left_anti")
      .drop("__dvk").as[AddFile]
    val toRemove = cur.join(tgt.select(key.map(col): _*), key, "left_anti")
      .drop("__dvk").as[AddFile]

    val rootStr = deltaLog.dataPath.toString
    val serConf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val missing = toAdd.map(_.path).mapPartitions { it =>
      val root = new Path(rootStr)
      val f = root.getFileSystem(serConf.value)
      it.filterNot(p => f.exists(FileNames.absolutePath(root, p)))
    }.take(3)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        "cannot RESTORE: target version references data files that no " +
          s"longer exist (vacuumed?): ${missing.mkString(", ")}")

    if (target.metadataOpt.exists(m => !current.metadataOpt.contains(m)))
      txn.updateMetadata(target.metadata)
    val now = deltaLog.clock.nowMillis
    txn.commit(Nil,
      toAdd.map(_.copy(dataChange = true).wrap).union(toRemove.map(_.remove(now).wrap)),
      Op.Restore, params)
  }

  // ---------------------------------------------------------------- clone

  /** Shallow CLONE: creates an independent table at `destPath` whose
    * AddFiles reference THIS table's data files by absolute URI — a
    * metadata-only copy, no data movement, O(files) regardless of table
    * size. The clone has its own log, so subsequent writes, DML and
    * OPTIMIZE on either side never affect the other (DML on the clone
    * rewrites into the clone's root). Deletion-vector descriptors are
    * rewritten to absolute URIs so merge-on-read deletes survive the
    * clone. Caveat (as in any Delta shallow clone): VACUUM on the SOURCE
    * can delete files the clone still references.
    */
  /** The snapshot a CLONE copies: current, `VERSION AS OF`, or
    * `TIMESTAMP AS OF` — time-travel clones share the exact resolution
    * of batch time travel (A7/A8), so "fork the table as it was before
    * the bad deploy" is one statement.
    */
  private def cloneSource(versionAsOf: Option[Long],
      timestampAsOf: Option[Long]): Snapshot =
    (versionAsOf, timestampAsOf) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "specify at most one of versionAsOf / timestampAsOf")
      case (Some(v), None) => deltaLog.snapshotForVersionAsOf(v)
      case (None, Some(ts)) => deltaLog.snapshotForTimestampAsOf(ts)
      case (None, None) => snapshot
    }

  def shallowCloneTo(destPath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DeltaTable = {
    val src = cloneSource(versionAsOf, timestampAsOf)
    src.assertProtocolRead()
    val md = src.metadata
    val destLog = DeltaLog.forTable(spark, destPath)
    require(!destLog.tableExists, s"clone destination already exists: $destPath")
    val root = deltaLog.dataPath.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(deltaLog.dataPath).toString
    val txn = destLog.startTransaction()
    txn.updateMetadata(md.copy(
      id = java.util.UUID.randomUUID.toString,
      createdTime = Some(destLog.clock.nowMillis)))
    val params = Map(
      "source" -> deltaLog.dataPath.toString,
      "sourceVersion" -> src.version.toString,
      "isShallow" -> "true")
    // live domains come along (the row-tracking high-water mark in
    // particular: the clone's AddFiles keep their baseRowIds, so a fresh
    // mark would hand out colliding ids on the first append)
    val domains = src.domainMetadataMap.values.toSeq
    import spark.implicits._
    txn.commit(src.protocol +: domains,
      src.allFilesDS.map(f => DeltaTable.shallowCloneAdd(root, f).wrap), Op.Clone, params)
    DeltaTable.forPath(spark, destPath)
  }

  /** Deep CLONE: an independent table at `destPath` with its OWN copies
    * of every data file and DV payload — no references back into the
    * source, so source VACUUM/retention can never invalidate the clone
    * (the shallow clone's one caveat). File copies run ON EXECUTORS over
    * the file-state Dataset — the driver never holds the file list, and
    * the copy parallelism is the cluster's, not a driver loop. Relative
    * paths are preserved; absolute references (a shallow-clone source)
    * land under the clone's root by file name; DV descriptors follow
    * their payloads ("u" stays relative, absolute/legacy forms re-point
    * to the clone's tree).
    */
  def deepCloneTo(destPath: String,
      versionAsOf: Option[Long] = None,
      timestampAsOf: Option[Long] = None): DeltaTable = {
    import spark.implicits._
    val src = cloneSource(versionAsOf, timestampAsOf)
    src.assertProtocolRead()
    val md = src.metadata
    val destLog = DeltaLog.forTable(spark, destPath)
    require(!destLog.tableExists, s"clone destination already exists: $destPath")
    val conf = spark.sessionState.newHadoopConf()
    val srcFsRoot = deltaLog.dataPath.getFileSystem(conf)
      .makeQualified(deltaLog.dataPath)
    val destRoot = destLog.dataPath.getFileSystem(conf)
      .makeQualified(destLog.dataPath)
    val serConf = new SerializableHadoopConf(conf)
    val srcStr = srcFsRoot.toString
    val destStr = destRoot.toString

    // executor-side copy; emits the REWRITTEN AddFile per copied file
    val rewrittenDS = src.allFilesDS.mapPartitions { it =>
      val sfs = new Path(srcStr).getFileSystem(serConf.value)
      val dfs = new Path(destStr).getFileSystem(serConf.value)
      def copy(from: Path, to: Path): Unit = {
        dfs.mkdirs(to.getParent)
        org.apache.hadoop.fs.FileUtil.copy(
          from.getFileSystem(serConf.value), from, dfs, to, false, serConf.value)
      }
      it.map { a =>
        val srcData = FileNames.absolutePath(new Path(srcStr), a.path)
        val isAbs = FileNames.isAbsolute(a.path)
        // flattening an external reference keeps only the base name —
        // two sources can legally carry the same base name (a table
        // cloned from multiple sources over its history), so prefix
        // with a hash of the source DIRECTORY: equal names from
        // different places stay distinct, and re-copies of the same
        // physical file stay idempotent
        val relPath =
          if (isAbs) f"${scala.util.hashing.MurmurHash3.stringHash(srcData.getParent.toString)}%08x-${srcData.getName}"
          else a.path
        copy(srcData, FileNames.absolutePath(new Path(destStr), relPath))
        // DV payload follows its descriptor
        val withDv = DeletionVectors.descriptor(a) match {
          case Some(d) if d.storageType == "u" =>
            // the source side honors the descriptor's OWN prefix (spec-
            // legal "u" descriptors from foreign writers use arbitrary —
            // even empty — prefixes; only our writer uses
            // _deletion_vectors). The clone re-emits the descriptor
            // under our canonical prefix to match where the payload
            // physically lands.
            val from = DeletionVectors.absolutePathOf(new Path(srcStr), d)
            val name = DeletionVectors.fileName(d)
            copy(from,
              new Path(new Path(destStr, DeletionVectors.DvPrefix), name))
            a.copy(deletionVector = d.copy(pathOrInlineDv =
              DeletionVectors.DvPrefix + d.pathOrInlineDv.takeRight(20)))
          case Some(d) if d.storageType == "p" =>
            val from = new Path(new java.net.URI(d.pathOrInlineDv))
            val to = new Path(new Path(destStr, "_deletion_vectors"), from.getName)
            copy(from, to)
            a.copy(deletionVector = d.copy(pathOrInlineDv = to.toUri.toString))
          case Some(d) if d.storageType == DeletionVectors.LegacyParquet =>
            val from = DeletionVectors.absolutePathOf(new Path(srcStr), d)
            val to = new Path(new Path(destStr, "_deletion_vectors"), from.getName)
            copy(from, to)
            a.copy(tags = a.tags + (DeletionVectors.PathTag -> to.toUri.toString))
          case _ => a
        }
        withDv.copy(path = relPath, dataChange = true)
      }
    }

    val txn = destLog.startTransaction()
    txn.updateMetadata(md.copy(
      id = java.util.UUID.randomUUID.toString,
      createdTime = Some(destLog.clock.nowMillis)))
    val params = Map(
      "source" -> deltaLog.dataPath.toString,
      "sourceVersion" -> src.version.toString,
      "isShallow" -> "false")
    // the copy job is the commit body: the commit's tally runs it once
    // (the body is cached), and a recomputed partition re-copies the same
    // files to the same names
    txn.commit(src.protocol +: src.domainMetadataMap.values.toSeq,
      rewrittenDS.map(_.wrap), Op.Clone, params)
    DeltaTable.forPath(spark, destPath)
  }

  /** TRUNCATE TABLE (reference `op/names.go` TRUNCATE): metadata-only
    * remove-all commit — no file is read or rewritten, every live
    * AddFile turns into a dataChange RemoveFile, so CDF readers derive
    * the deleted rows from the removed files exactly like a
    * full-table DELETE. The remove list is the commit's Dataset body,
    * so a 10^7-file truncate never materializes it on the driver.
    */
  def truncate(): Long = {
    import spark.implicits._
    val txn = deltaLog.startTransaction()
    txn.readWholeTable()
    val now = deltaLog.clock.nowMillis
    txn.commit(Nil, txn.snapshot.allFilesDS.map(_.remove(now).wrap), Op.Truncate, Map.empty)
  }

  /** Partition-level delete: drops whole files selected by a
    * partition-column predicate (residual predicates are rejected — this
    * is file-granular, like the reference's metadata-only surface).
    */
  def deleteWhere(partitionPredicate: Column): Long = {
    val txn = deltaLog.startTransaction()
    val scan = DeltaScan(txn.snapshot, Some(partitionPredicate))
    if (scan.residualPredicates.nonEmpty)
      throw new IllegalArgumentException(
        "deleteWhere only supports partition-column predicates; " +
          s"residual: ${scan.residualPredicates.mkString(", ")}")
    val rw = rewriteWhere(txn, partitionPredicate, None)
    txn.commit(rw.actions, Op.Delete,
      operationParameters = Map("predicate" -> partitionPredicate.toString),
      operationMetrics = rw.metrics)
  }
}

object DeltaTable {

  /** Row-tracking lineage for rewritten rows: the row id and commit
    * version a new file materializes, overriding its own defaults. A
    * null commit version reads as the new file's (the rewrite's commit).
    */
  private[delta] def lineage(id: Column, rcv: Column): Seq[Column] =
    Seq(id.cast("long").as(RowTracking.MatRowId),
      rcv.cast("long").as(RowTracking.MatRowCommitVersion))

  /** Slash paths of the files inside the qualified table `root` that a
    * file action references: its data file and its DV payload file.
    * References outside the root (a shallow clone's) are dropped.
    */
  private def referencedFiles(root: String, path: String,
      dv: Option[DeletionVectorDescriptor]): Seq[String] = {
    val qualified = new Path(root)
    val sidecar = dv.filter(_.storageType != "i")
      .map(d => DeletionVectors.absolutePathOf(qualified, d).toUri.toString)
    (Seq(path) ++ sidecar).flatMap(FileNames.underTableRoot(qualified, _))
  }

  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** VACUUM's rule for a listed or inventoried file `abs` under the
    * table root's slash path: a `.parquet` file under no `_`- or
    * `.`-prefixed segment and, on a table with Iceberg metadata, not
    * under `metadata/` (its position-delete parquet files are
    * referenced by no AddFile).
    */
  private def sweepable(rootPath: String, abs: String, icebergMeta: Boolean): Boolean = {
    val segs = abs.substring(math.min(rootPath.length + 1, abs.length)).split("/")
    abs.endsWith(".parquet") && !segs.exists(hidden) &&
      !(icebergMeta && segs.headOption.contains("metadata"))
  }

  /** `f` as a shallow clone references it: by absolute URI under the
    * source's qualified `root`. DV payloads stay in the SOURCE table's
    * tree: "u" descriptors (root-relative) turn absolute ("p"); legacy
    * tag paths absolutize.
    */
  private def shallowCloneAdd(root: String, f: AddFile): AddFile = {
    val qualified = new Path(root)
    def absUri(child: String): String =
      FileNames.absolutePath(qualified, child).toUri.toString
    val withDv = DeletionVectors.descriptor(f) match {
      case Some(d) if d.storageType == "u" =>
        f.copy(deletionVector = d.copy(storageType = "p",
          pathOrInlineDv = DeletionVectors.absolutePathOf(qualified, d).toUri.toString))
      case Some(d) if d.storageType == DeletionVectors.LegacyParquet =>
        f.copy(tags = f.tags + (DeletionVectors.PathTag -> absUri(d.pathOrInlineDv)))
      case _ => f
    }
    withDv.copy(path = absUri(f.path), dataChange = true)
  }

  /** Optimized write layout: a REBALANCE shuffle keyed on the partition
    * columns (AQE merges undersized bins and splits skewed ones), so the
    * writer emits ~one well-sized file per Hive partition per commit
    * instead of one per (task x partition value). Unpartitioned tables
    * rebalance to even advisory-sized bins.
    */
  private[delta] def rebalanceForWrite(df: DataFrame, partCols: Seq[String]): DataFrame =
    if (partCols.isEmpty) df.hint("rebalance")
    else df.hint("rebalance", partCols: _*)

  def forPath(spark: SparkSession, path: String): DeltaTable =
    new DeltaTable(spark, DeltaLog.forTable(spark, path))

  def isDeltaTable(spark: SparkSession, path: String): Boolean =
    DeltaLog.forTable(spark, path).tableExists

  /** CONVERT TO DELTA: adopt an existing (optionally Hive-partitioned)
    * parquet directory in place. The initial commit records every data
    * file with footer stats; no data is rewritten, so converting a
    * 100 TB directory is a metadata-sized operation (one distributed
    * footer-stat job + one commit). Partition columns and types come
    * from Spark's partition discovery. (delta-spark's CONVERT TO DELTA
    * surface; the reference has no compute layer to convert for.)
    */
  /** CONVERT FROM ICEBERG (A85 — the read side of UniForm): adopt the
    * Iceberg table at `path` (HadoopTables layout) as a graft-Delta
    * table IN PLACE, metadata-only. Position deletes become deletion
    * vectors; per-file stats come from the manifests (no footer reads);
    * the name mapping imports as Delta column mapping when the parquet
    * names differ from the schema. See [[IcebergMetadata.convertFrom]].
    */
  def convertFromIceberg(spark: SparkSession, path: String,
      asOfSnapshotId: Option[Long] = None,
      asOfRef: Option[String] = None): DeltaTable = {
    DeltaLog.invalidateCache(spark, path) // the log dir may have been
    // replaced out-of-band (Delta removed, Iceberg metadata retained)
    val log = DeltaLog.forTable(spark, path)
    IcebergMetadata.convertFrom(spark, log, asOfSnapshotId, asOfRef = asOfRef)
    new DeltaTable(spark, log)
  }

  /** OUT-OF-PLACE adoption of an Iceberg table (the shallow-clone face
    * of [[convertFromIceberg]]): the graft-Delta log is created at
    * `targetPath`, every AddFile references the SOURCE parquet by
    * absolute URI, decoded deletion vectors land under the target, and
    * not a single byte is written under `sourcePath` — safe to point at
    * a LIVE Flink/Trino-owned table, where the in-place form would drop
    * `_delta_log` into a directory the foreign writer believes it owns.
    * Re-invoking on the target RE-SYNCS against the remembered source
    * (O(changed files) diff commit, same semantics as the in-place
    * sync); v3 row lineage and zero-copy Puffin DV references import
    * exactly as in place. VACUUM on the mirror never touches source
    * data (outside-root tombstones are skipped by contract).
    */
  def mirrorFromIceberg(spark: SparkSession, sourcePath: String,
      targetPath: String, asOfSnapshotId: Option[Long] = None,
      asOfRef: Option[String] = None): DeltaTable = {
    DeltaLog.invalidateCache(spark, targetPath)
    val log = DeltaLog.forTable(spark, targetPath)
    IcebergMetadata.convertFrom(spark, log, asOfSnapshotId,
      source = Some(new org.apache.hadoop.fs.Path(sourcePath)),
      asOfRef = asOfRef)
    new DeltaTable(spark, log)
  }

  def convertToDelta(spark: SparkSession, path: String): DeltaTable = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val log = DeltaLog.forTable(spark, path)
    require(!log.tableExists, s"$path is already a graft-delta table")
    val rel = spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        lr.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(throw new IllegalArgumentException(s"no parquet data at $path"))
    val partCols = rel.partitionSchema.fieldNames.toSeq
    val dataSchema = rel.dataSchema
    // table schema = data columns + discovered partition columns (typed)
    val fullSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields ++ rel.partitionSchema.fields)
    val conf = spark.sessionState.newHadoopConf()
    val fs = log.dataPath.getFileSystem(conf)
    val base = fs.makeQualified(log.dataPath).toString
    val rels = rel.location.inputFiles.toSeq.map { f =>
      val q = fs.makeQualified(new Path(f)).toString
      require(q.startsWith(base + "/"), s"input file $q outside table root $base")
      q.substring(base.length + 1)
    }
    require(rels.nonEmpty, s"no parquet files found at $path")
    // size / mtime / footer stats AND the AddFile actions themselves are
    // built on executors, like the write path — the driver never opens a
    // footer, and the action list stays the commit's Dataset body (A29)
    val serConf = new SerializableHadoopConf(conf)
    val confB = spark.sparkContext.broadcast(serConf)
    val partColSet = partCols.toSet
    import spark.implicits._
    val addsDS = spark.createDataset(
      spark.sparkContext.parallelize(rels, math.max(1, math.min(rels.size, 32))))
      .map { r =>
        val c = confB.value.value
        val p = new Path(new Path(base), r)
        val st = p.getFileSystem(c).getFileStatus(p)
        val stats = // config default: the converted table has no metadata yet
          try Stats.fromFooter(c, p, dataSchema, Nil, numIndexedCols = 32)
          catch { case _: Exception => null }
        val partitionValues = r.split('/').dropRight(1).collect {
          case d if d.contains("=") =>
            val Array(k, v) = d.split("=", 2)
            k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
                  else FileNames.percentDecode(v))
        }.toMap
        require(partitionValues.keySet == partColSet,
          s"file $r partition dirs ${partitionValues.keySet} != discovered $partColSet")
        AddFile(FileNames.encodeRelative(r), partitionValues, st.getLen,
          st.getModificationTime, dataChange = true, stats = stats)
      }
    val txn = log.startTransaction()
    txn.updateMetadata(Metadata(
      schemaString = fullSchema.json,
      partitionColumns = partCols,
      createdTime = Some(log.clock.nowMillis)))
    txn.commit(Nil, addsDS.map(_.wrap), Op.Convert, Map("numFiles" -> rels.size.toString))
    new DeltaTable(spark, log)
  }

  /** Write change rows (table columns + `_change_type`) as CDC parquet
    * under `_change_data/`, returning AddCDCFile actions. CDC files keep
    * partition columns as DATA columns (no hive dirs): a CDF reader wants
    * the full row back, and `_change_data` is not a `k=v` path segment so
    * it must not participate in partition discovery. Under column mapping
    * the data columns are written by PHYSICAL name, same as data files —
    * the property that lets tableChanges read a CDF range spanning a
    * RENAME COLUMN commit (logical names move, physical names don't).
    */
  private[delta] def writeCdcFiles(
      spark: SparkSession, dataPath: Path, df0: DataFrame,
      md: Metadata): Seq[AddCDCFile] = {
    val df = ColumnMapping.toPhysicalForWrite(md, df0)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dataPath.getFileSystem(conf)
    val staging = new Path(dataPath, s".staging-cdc-${UUID.randomUUID}")
    try {
      df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      val cdcDir = new Path(dataPath, "_change_data")
      fs.mkdirs(cdcDir)
      fs.listStatus(staging).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map { st =>
          val destRel = s"_change_data/cdc-${UUID.randomUUID}.parquet"
          val dest = new Path(dataPath, destRel)
          if (!fs.rename(st.getPath, dest))
            throw new java.io.IOException(s"failed to move ${st.getPath} -> $dest")
          AddCDCFile(destRel, Map.empty, fs.getFileStatus(dest).getLen)
        }
    } finally fs.delete(staging, true)
  }

  /** Physically write df as Hive-partitioned parquet under the table root
    * via a staging dir + rename, returning the AddFile actions. Rename is
    * metadata-only on a real FS; object stores would use a direct-write
    * committer instead. CHECK/NOT NULL constraints are enforced inside
    * this same pass, and files store PHYSICAL column names under column
    * mapping.
    */
  private[delta] def writeFiles(
      spark: SparkSession, dataPath: Path, df0: DataFrame,
      partCols: Seq[String], md: Metadata): Seq[AddFile] = {
    val checked = Constraints.enforce(df0, md)
    // column mapping: files store PHYSICAL names (partition cols are
    // never mapped, so partCols and the hive layout are unaffected); in
    // id mode the aliases also stamp parquet.field.id so footers carry
    // field ids for id-resolution readers
    val aliases = ColumnMapping.writeAliases(md)
    val df = ColumnMapping.toPhysicalForWrite(md, checked)
    val conf = spark.sessionState.newHadoopConf()
    // direct write: tasks place UUID-named files straight into the table
    // directory (no staging dir, no rename pass — object-store safe; the
    // Delta log is what makes them visible). See DirectWriteCommitProtocol.
    val committer = new DirectWriteCommitProtocol(
      s"graft-${UUID.randomUUID}", dataPath.toString)
    // native parquet bloom filters on the configured columns (PHYSICAL
    // names under column mapping): written by parquet-mr inside the
    // data file, applied by any stock reader to pushed equality
    // predicates — point-lookup skipping min/max stats can't provide,
    // at zero log cost
    val bloomCols = DeltaConfig.BloomFilterColumns.fromMetadata(md)
    val bloomConf: Map[String, String] =
      if (bloomCols.isEmpty) Map.empty
      else {
        val ndv = DeltaConfig.BloomFilterNdv.fromMetadata(md)
        bloomCols.flatMap { c =>
          val phys = aliases.get(c).map(_._1).getOrElse(c)
          Seq(s"parquet.bloom.filter.enabled#$phys" -> "true",
            s"parquet.bloom.filter.expected.ndv#$phys" -> ndv.toString)
        }.toMap
      }
    // UniForm tables write TIMESTAMP_MICROS parquet instead of Spark's
    // INT96 default: the Iceberg spec forbids INT96, and the enablement
    // gate (OptimisticTransaction) guarantees every file of a
    // timestamp-bearing UniForm table went through THIS stamped path.
    // prepareWrite re-reads the SESSION conf (the hadoop-conf route
    // can't override it), so the key is pinned on a CLONED session
    // handed to the write job — never set/restored on the shared
    // session, where a concurrent write's restore could unset it inside
    // this write's window and silently land INT96 in a UniForm table.
    val stampMicros =
      DeltaConfig.UniversalFormats.fromMetadata(md).contains("iceberg")
    val writeSpark =
      if (!stampMicros) spark
      else org.apache.spark.sql.GraftShims.sessionWithConf(spark, Map(
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    try org.apache.spark.sql.GraftShims.writeParquetDirect(
      writeSpark, df, dataPath.toString, partCols, committer, bloomConf)
    catch { case t: Throwable =>
      // surface enforcement raise_errors as one typed exception, whether
      // they fired in the write job or at plan time on the driver
      Constraints.unwrap(t).foreach(throw _)
      throw t
    }
    val rels = committer.addedFiles()
    if (rels.isEmpty) return Nil
    // size / mtime / footer stats gathered on executors — the driver never
    // loops over output files (serial footer reads were the old commit
    // bottleneck at ~10^5 files)
    val serConf = new SerializableHadoopConf(conf)
    val confB = spark.sparkContext.broadcast(serConf)
    val schema = df.schema
    val base = dataPath.toString
    val pCols = partCols
    val nIdx = DeltaConfig.DataSkippingNumIndexedCols.fromMetadata(md)
    val statsCols = DeltaConfig.DataSkippingStatsColumns.fromMetadata(md)
    val infos = spark.sparkContext
      .parallelize(rels, math.max(1, math.min(rels.size, 32)))
      .map { rel =>
        val c = confB.value.value
        val p = new Path(new Path(base), rel)
        val st = p.getFileSystem(c).getFileStatus(p)
        val stats =
          try Stats.fromFooter(c, p, schema, pCols, nIdx, statsCols)
          catch { case _: Exception => null } // stats are an optimization only
        (rel, st.getLen, st.getModificationTime, stats)
      }.collect().toSeq
    infos.map { case (rel, len, mtime, stats) =>
      val partitionValues = rel.split('/').dropRight(1).map { d =>
        val Array(k, v) = d.split("=", 2)
        k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
              else FileNames.percentDecode(v))
      }.toMap
      AddFile(
        // spec shape: a percent-encoded relative URI (hive-escaped dir
        // names may carry spaces / raw %, illegal in a URI)
        path = FileNames.encodeRelative(rel),
        partitionValues = partitionValues,
        size = len,
        modificationTime = mtime,
        dataChange = true,
        stats = stats)
    }
  }
}
