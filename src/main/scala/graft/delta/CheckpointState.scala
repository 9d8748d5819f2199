package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** The small, driver-resident part of a table state: protocol, metadata,
  * SetTransactions, live domains, and the adds a reader resolves on the
  * driver ([[ReplayState.flagged]]), keyed by path. The file list itself
  * is not here: it stays a DataFrame.
  */
private[delta] final case class ReplayState(
    protocol: Option[Protocol],
    metadata: Option[Metadata],
    txns: Map[String, SetTransaction],
    domains: Map[String, DomainMetadata],
    flaggedAdds: Map[String, AddFile]) {

  /** This state with `tail` replayed on top, in replay order: the newest
    * action per path decides the path (within one version an add beats a
    * remove: atomic replace), the newest protocol and metadata win, and
    * SetTransactions and domains replace per key (a removed domain goes).
    */
  def replay(tail: Seq[(Long, Action)]): ReplayState = {
    var proto = protocol
    var meta = metadata
    var t = txns
    var d = domains
    val newest = scala.collection.mutable.HashMap.empty[String, (Long, Action)]
    tail.foreach {
      case (v, a: AddFile) => newest(a.path) = (v, a)
      case (v, r: RemoveFile) =>
        newest.get(r.path) match {
          case Some((pv, _: AddFile)) if pv == v => ()
          case _ => newest(r.path) = (v, r)
        }
      case (_, p: Protocol) => proto = Some(p)
      case (_, m: Metadata) => meta = Some(m)
      case (_, x: SetTransaction) => t += x.appId -> x
      case (_, x: DomainMetadata) => d = if (x.removed) d - x.domain else d + (x.domain -> x)
      case _ =>
    }
    val flagged = (flaggedAdds -- newest.keys) ++ newest.valuesIterator.collect {
      case (_, a: AddFile) if ReplayState.flagged(a) => a.path -> a
    }
    ReplayState(proto, meta, t, d, flagged)
  }
}

private[delta] object ReplayState {
  val empty: ReplayState = ReplayState(None, None, Map.empty, Map.empty, Map.empty)

  private def tagged(a: AddFile, tag: String): Boolean =
    Option(a.tags).flatMap(_.get(tag)).exists(_ != null)

  /** The add carries a deletion vector: a descriptor or the legacy tag. */
  def hasDv(a: AddFile): Boolean =
    a.deletionVector != null || tagged(a, DeletionVectors.PathTag)

  /** The add lacks an initial-defaulted column (see [[ReadDefaults]]). */
  def needsDefaults(a: AddFile): Boolean = tagged(a, ReadDefaults.MissingTag)

  /** An add a reader must see on the driver: DV resolution or default fill. */
  def flagged(a: AddFile): Boolean = hasDv(a) || needsDefaults(a)

  /** [[flagged]] over an add struct column (false for a null add). */
  def flaggedCol(add: Column): Column = add.isNotNull &&
    (add("deletionVector").isNotNull || (add("tags").isNotNull &&
      (element_at(add("tags"), DeletionVectors.PathTag).isNotNull ||
        element_at(add("tags"), ReadDefaults.MissingTag).isNotNull)))
}

/** One checkpoint, opened once per [[DeltaLog]]: its actions as a
  * DataFrame (the file list stays distributed) and its [[ReplayState]],
  * collected by one job.
  */
private[delta] final case class CheckpointState(df: DataFrame, state: ReplayState)

private[delta] object CheckpointState {

  /** All actions of one SingleAction row, every field nullable: a
    * checkpoint row has exactly one non-null action.
    */
  lazy val actionSchema: StructType =
    Snapshot.nullable(org.apache.spark.sql.Encoders.product[SingleAction].schema)
      .asInstanceOf[StructType]

  /** [[actionSchema]] with `add.stats_parsed` of `statsType` spliced in
    * last, as the checkpoint writer's `delta.checkpoint.writeStatsAsStruct`
    * lays it out.
    */
  def withStatsParsed(statsType: StructType): StructType = {
    val addBase = actionSchema("add").dataType.asInstanceOf[StructType]
    val add = StructType(addBase.fields :+
      StructField("stats_parsed", Snapshot.nullable(statsType)))
    StructType(actionSchema.fields.map(f =>
      if (f.name == "add") f.copy(dataType = add) else f))
  }

  /** The read schema of a checkpoint file: [[actionSchema]], extended
    * when the file carries `add.stats_parsed`. One parquet footer read —
    * the config that decides it lives inside the checkpoint being
    * opened, so the file's own schema is the source of truth.
    */
  private def probedSchema(spark: SparkSession, file: Path): StructType = {
    val probed =
      try spark.read.parquet(file.toString).schema
      catch { case scala.util.control.NonFatal(_) => return actionSchema }
    probed.fields.find(_.name == "add").map(_.dataType) match {
      case Some(addT: StructType) if addT.fieldNames.contains("stats_parsed") =>
        addT("stats_parsed").dataType match {
          case st: StructType => withStatsParsed(st)
          case _ => actionSchema
        }
      case _ => actionSchema
    }
  }

  /** The checkpoint's actions with their `version`: the parts of a
    * classic or multi-part checkpoint; for v2, the manifest's non-file
    * actions plus the named sidecars. Manifest and sidecars share one
    * read schema, so the union is exact (a missing nested field reads as
    * null).
    */
  private def frame(spark: SparkSession, logPath: Path, ci: CheckpointInstance,
      readSchema: StructType, sidecars: Seq[String]): DataFrame = {
    val parts = spark.read.schema(readSchema).parquet(ci.files(logPath).map(_.toString): _*)
    val df = ci.v2Uuid match {
      case None => parts
      case Some(_) =>
        val nonFile = parts.where(col("sidecar").isNull && col("checkpointMetadata").isNull)
        if (sidecars.isEmpty) nonFile
        else nonFile.unionByName(spark.read.schema(readSchema).parquet(
          sidecars.map(n => new Path(FileNames.sidecarDir(logPath), n).toString): _*),
          allowMissingColumns = true)
    }
    df.withColumn("version", lit(ci.version))
  }

  /** Open a checkpoint cold: probe its read schema (v2: name its
    * sidecars first), then collect its [[ReplayState]] in one job.
    */
  def load(spark: SparkSession, logPath: Path, ci: CheckpointInstance): CheckpointState = {
    import spark.implicits._
    val files = ci.files(logPath)
    val (readSchema, sidecars) = ci.v2Uuid match {
      case None => (probedSchema(spark, files.head), Nil)
      case Some(_) =>
        val names = spark.read.schema(actionSchema).parquet(files.map(_.toString): _*)
          .where($"sidecar".isNotNull).select($"sidecar.path").as[String].collect().toSeq
        if (names.isEmpty) (actionSchema, Nil)
        else (probedSchema(spark, new Path(FileNames.sidecarDir(logPath), names.head)), names)
    }
    val df = frame(spark, logPath, ci, readSchema, sidecars)
    // a checkpoint written without the stats JSON carries only the struct:
    // rebuild the JSON as activeFilesDF does, so both agree on every add
    val add =
      if (readSchema("add").dataType.asInstanceOf[StructType].fieldNames.contains("stats_parsed"))
        $"add".withField("stats", coalesce($"add.stats", to_json($"add.stats_parsed")))
          .dropFields("stats_parsed")
      else $"add"
    val isFlagged = ReplayState.flaggedCol($"add")
    val rows = df
      .where($"metaData".isNotNull || $"protocol".isNotNull || $"txn".isNotNull ||
        $"domainMetadata".isNotNull || isFlagged)
      .select($"metaData", $"protocol", $"txn", $"domainMetadata", when(isFlagged, add).as("add"))
      .as[(Option[Metadata], Option[Protocol], Option[SetTransaction],
        Option[DomainMetadata], Option[AddFile])]
      .collect()
    CheckpointState(df, ReplayState(
      rows.flatMap(_._2).headOption,
      rows.flatMap(_._1).headOption,
      rows.flatMap(_._3).map(t => t.appId -> t).toMap,
      rows.flatMap(_._4).filterNot(_.removed).map(d => d.domain -> d).toMap,
      rows.flatMap(_._5).map(a => a.path -> a).toMap))
  }

  /** The state of a checkpoint this JVM just wrote, from what it wrote:
    * no job. `statsType` is the `add.stats_parsed` type it wrote, if any;
    * `sidecars` the v2 sidecar names its manifest references.
    */
  def written(spark: SparkSession, logPath: Path, ci: CheckpointInstance,
      statsType: Option[StructType], sidecars: Seq[String],
      state: ReplayState): CheckpointState = {
    // a v2 manifest alone never carries the struct: the probe reads a sidecar
    val readSchema = statsType.filter(_ => ci.v2Uuid.isEmpty || sidecars.nonEmpty)
      .map(withStatsParsed).getOrElse(actionSchema)
    CheckpointState(frame(spark, logPath, ci, readSchema, sidecars), state)
  }
}
