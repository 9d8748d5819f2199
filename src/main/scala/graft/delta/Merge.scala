package graft.delta

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE INTO, built from [[DeltaTable.merge]]. The target is addressable
  * as `t.<col>` and the source as `s.<col>` in the merge condition and in
  * every clause expression/condition. The full Delta clause surface is
  * modeled (cf. reference delta-go has no DML; semantics follow the open
  * Delta MERGE spec):
  *
  *   - any number of `whenMatched[Update|UpdateAll|Delete]` clauses, each
  *     with an optional extra condition; for a matched row the FIRST
  *     clause whose condition holds applies, later ones are ignored, and
  *     a matched row satisfying no clause passes through unchanged;
  *   - any number of `whenNotMatchedInsert[All]` clauses (source-only
  *     rows); first-satisfied inserts, otherwise the source row is
  *     ignored;
  *   - any number of `whenNotMatchedBySource[Update|Delete]` clauses
  *     (target-only rows; conditions may reference only `t.` columns —
  *     the source side is null there, so `s.` references are never
  *     satisfied); first-satisfied applies, otherwise pass-through.
  *
  * Execution is the standard two-phase Delta shape, sized by the MATCH
  * SET rather than the table:
  *   1. find touched files — join target (with `_metadata.file_path`)
  *      to the source on the condition; only distinct file paths return
  *      to the driver. Catalyst prunes the scan to the condition columns
  *      and AQE broadcasts the source when it is small. With
  *      `whenNotMatchedBySource` clauses every target row is a rewrite
  *      candidate, so all files are touched (the general-case cost of
  *      that clause — same as Delta's own full-outer plan).
  *   2. rewrite — only the touched files' rows join the source again
  *      (full-outer when inserting, left-outer otherwise); each output
  *      frame is one clause's filter+projection over the shared cached
  *      join. A target row matched by more than one source row raises,
  *      per MERGE semantics (detected on `_metadata` row identity, no
  *      extra shuffle of the table).
  *
  * With `delta.enableChangeDataFeed`, insert / update_preimage /
  * update_postimage / delete rows are captured as CDC files per applied
  * clause.
  */
final class MergeBuilder private[delta] (
    t: DeltaTable, source: DataFrame, condition: Column) {

  private sealed trait MatchedAction
  private case class MUpdate(set: Map[String, Column]) extends MatchedAction
  private case object MUpdateAll extends MatchedAction
  private case object MDelete extends MatchedAction

  private sealed trait NotMatchedAction
  private case class NInsert(values: Map[String, Column]) extends NotMatchedAction
  private case object NInsertAll extends NotMatchedAction

  private sealed trait BySourceAction
  private case class BUpdate(set: Map[String, Column]) extends BySourceAction
  private case object BDelete extends BySourceAction

  private val matched = ArrayBuffer.empty[(Option[Column], MatchedAction)]
  private val notMatched = ArrayBuffer.empty[(Option[Column], NotMatchedAction)]
  private val bySource = ArrayBuffer.empty[(Option[Column], BySourceAction)]
  private var txnId: Option[(String, Long)] = None

  /** Exactly-once MERGE for streaming `foreachBatch`: the commit records
    * `SetTransaction(appId, version)`, and when the log already covers
    * `version` the whole merge is a no-op — a replayed micro-batch after
    * a sink failure neither re-applies updates nor duplicates inserts.
    */
  def withIdempotentTxn(appId: String, version: Long): this.type = {
    txnId = Some((appId, version)); this
  }

  private var evolveSchema = false

  /** delta-spark's `withSchemaEvolution`: source-only TOP-LEVEL columns
    * join the target schema (nullable; fresh physical ids under column
    * mapping) in this merge's own commit. `whenMatchedUpdateAll` keeps
    * the target value for columns the source lacks and
    * `whenNotMatchedInsertAll` fills them null — the source no longer
    * has to carry every target column. Existing files are untouched:
    * evolution-added columns read as null from pre-merge files, exactly
    * like mergeSchema on the write path.
    */
  def withSchemaEvolution(): this.type = { evolveSchema = true; this }

  def whenMatchedUpdate(set: Map[String, Column]): this.type = {
    require(set.nonEmpty, "whenMatchedUpdate needs at least one SET column")
    matched += ((None, MUpdate(set))); this
  }

  def whenMatchedUpdate(clauseCondition: Column, set: Map[String, Column]): this.type = {
    require(set.nonEmpty, "whenMatchedUpdate needs at least one SET column")
    matched += ((Some(clauseCondition), MUpdate(set))); this
  }

  /** Update every table column from the same-named source column. */
  def whenMatchedUpdateAll(): this.type = { matched += ((None, MUpdateAll)); this }

  def whenMatchedUpdateAll(clauseCondition: Column): this.type = {
    matched += ((Some(clauseCondition), MUpdateAll)); this
  }

  def whenMatchedDelete(): this.type = { matched += ((None, MDelete)); this }

  def whenMatchedDelete(clauseCondition: Column): this.type = {
    matched += ((Some(clauseCondition), MDelete)); this
  }

  def whenNotMatchedInsert(values: Map[String, Column]): this.type = {
    notMatched += ((None, NInsert(values))); this
  }

  def whenNotMatchedInsert(clauseCondition: Column, values: Map[String, Column]): this.type = {
    notMatched += ((Some(clauseCondition), NInsert(values))); this
  }

  /** Insert every table column from the same-named source column. */
  def whenNotMatchedInsertAll(): this.type = { notMatched += ((None, NInsertAll)); this }

  def whenNotMatchedInsertAll(clauseCondition: Column): this.type = {
    notMatched += ((Some(clauseCondition), NInsertAll)); this
  }

  def whenNotMatchedBySourceUpdate(set: Map[String, Column]): this.type = {
    require(set.nonEmpty, "whenNotMatchedBySourceUpdate needs at least one SET column")
    bySource += ((None, BUpdate(set))); this
  }

  def whenNotMatchedBySourceUpdate(
      clauseCondition: Column, set: Map[String, Column]): this.type = {
    require(set.nonEmpty, "whenNotMatchedBySourceUpdate needs at least one SET column")
    bySource += ((Some(clauseCondition), BUpdate(set))); this
  }

  def whenNotMatchedBySourceDelete(): this.type = { bySource += ((None, BDelete)); this }

  def whenNotMatchedBySourceDelete(clauseCondition: Column): this.type = {
    bySource += ((Some(clauseCondition), BDelete)); this
  }

  /** Ticks `acc` once per row flowing through — the delta-spark
    * metric-counting shape (their IncrementMetric expression over a SQL
    * metric): marked nondeterministic so the optimizer can neither push
    * predicates below it nor collapse/duplicate it — every source row
    * ticks once per EXECUTION, pre-join-fan-out. Spark only guarantees
    * exactly-once accumulator updates inside actions, so a task retry,
    * speculative duplicate, or eviction-triggered recompute of the
    * persisted join can overcount; like delta-spark's own SQL-metric
    * counters this is an operational metric, not a ledger. An
    * accumulator survives ANY execution path of the plan (Dataset
    * actions, FileFormatWriter jobs, cached materialization) — unlike a
    * CollectMetrics observation, whose listener never fires for plans
    * executed outside a Dataset action (the direct-write path), which
    * would block a metrics read forever.
    */
  private def countingFilter(acc: org.apache.spark.util.LongAccumulator): Column = {
    val tick = org.apache.spark.sql.functions
      .udf(() => { acc.add(1L); true }).asNondeterministic()
    tick()
  }

  /** Exact row-level operationMetrics (delta-spark observability
    * parity), from ONE aggregation over the already-persisted clause
    * join — a map-side reduction over cached partitions, cheap next to
    * the rewrite. numSourceRows is the counting filter's accumulator,
    * captured after the rewrite's single source pass (the join is
    * persisted, so no later action re-executes the source) — the source
    * plan is never executed a third time just for a metric, and a
    * non-deterministic source cannot report a count disagreeing with
    * the rows the merge actually consumed. Copied rows exist only on
    * the rewrite path (merge-on-read leaves pass-through rows in their
    * files).
    */
  private def rowMetrics(joined: DataFrame, mT: Column, mS: Column,
      dvOn: Boolean, nSrc: Long): Map[String, String] = {
    def cnt(c: Column): Column = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    def inSet(c: Column, s: Seq[Int]): Column =
      if (s.isEmpty) lit(false) else c.isInCollection(s)
    val updM = matched.zipWithIndex.collect { case ((_, a), i) if a != MDelete => i }.toSeq
    val delM = matched.zipWithIndex.collect { case ((_, MDelete), i) => i }.toSeq
    val updB = bySource.zipWithIndex.collect { case ((_, BUpdate(_)), k) => k }.toSeq
    val delB = bySource.zipWithIndex.collect { case ((_, BDelete), k) => k }.toSeq
    val r = joined.agg(
      cnt(inSet(col("__mc"), updM) || inSet(col("__bc"), updB)).as("u"),
      cnt(inSet(col("__mc"), delM) || inSet(col("__bc"), delB)).as("d"),
      cnt(col("__nc") >= 0).as("i"),
      cnt(mT && ((mS && col("__mc") === -1) || (!mS && col("__bc") === -1)))
        .as("c")).head()
    val u = r.getLong(r.fieldIndex("u"))
    val d = r.getLong(r.fieldIndex("d"))
    val i = r.getLong(r.fieldIndex("i"))
    val c = if (dvOn) 0L else r.getLong(r.fieldIndex("c"))
    Map(
      "numSourceRows" -> nSrc.toString,
      "numTargetRowsUpdated" -> u.toString,
      "numTargetRowsDeleted" -> d.toString,
      "numTargetRowsInserted" -> i.toString,
      "numTargetRowsCopied" -> c.toString,
      "numOutputRows" -> (u + i + c).toString)
  }

  def execute(): Long = {
    val spark = t.spark
    val log = t.deltaLog
    val txn = log.startTransaction()
    require(txn.snapshot.metadataOpt.nonEmpty, "MERGE target table does not exist")
    txnId match {
      case Some((app, v)) if txn.txnVersion(app) >= v => return txn.readVersion
      case _ => ()
    }
    val txnActions: Seq[Action] = txnId.toSeq.map { case (app, v) =>
      SetTransaction(app, v, Some(log.clock.nowMillis))
    }
    val md0 = txn.metadata
    val origNames = md0.schema.fieldNames.toSet
    // schema evolution: stage the widened schema on THIS txn so the
    // rewrite writes it and the commit carries the metadata update;
    // reads of existing files keep the ORIGINAL metadata (their parquet
    // has the old physical schema)
    // name matching is case-insensitive like Spark's resolver: a source
    // column differing only in case is the SAME column, not a new one
    val origLower = origNames.map(_.toLowerCase)
    val md: Metadata =
      if (!evolveSchema) md0
      else {
        val newCols = source.schema.fields
          .filterNot(f => origLower.contains(f.name.toLowerCase)).toSeq
        if (newCols.isEmpty) md0
        else {
          var mx = ColumnMapping.maxId(md0.schema)
          val annotated = newCols.map { f =>
            if (ColumnMapping.enabled(md0)) {
              val a = ColumnMapping.freshField(f.copy(nullable = true), mx)
              mx += 1; a
            } else f.copy(nullable = true)
          }
          val merged = org.apache.spark.sql.types.StructType(
            md0.schema.fields ++ annotated)
          val m2 = md0.copy(schemaString = merged.json)
          txn.updateMetadata(m2)
          m2
        }
      }
    val fields = md.schema.fields.toSeq
    val fieldNames = md.schema.fieldNames.toSet
    val srcLower = source.schema.fieldNames.map(_.toLowerCase).toSet
    // target-side reference: an evolution-added column has no data in
    // any target file yet — it is null on the target side by definition
    def tRef(f: org.apache.spark.sql.types.StructField): Column =
      if (origLower.contains(f.name.toLowerCase)) col(s"t.${f.name}")
      else lit(null).cast(f.dataType)

    def starFields: Seq[org.apache.spark.sql.types.StructField] =
      if (evolveSchema) fields.filter(f => srcLower.contains(f.name.toLowerCase))
      else fields
    def resolvedSet(a: MatchedAction): Map[String, Column] = a match {
      case MUpdate(set) => set
      case MUpdateAll => starFields.map(f => f.name -> col(s"s.${f.name}")).toMap
      case MDelete => Map.empty
    }
    def resolvedIns(a: NotMatchedAction): Map[String, Column] = a match {
      case NInsert(values) => values
      case NInsertAll => starFields.map(f => f.name -> col(s"s.${f.name}")).toMap
    }
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one clause")
    (matched.map(c => resolvedSet(c._2)) ++ notMatched.map(c => resolvedIns(c._2)) ++
      bySource.collect { case (_, BUpdate(set)) => set }).foreach { m =>
      require((m.keySet -- fieldNames).isEmpty,
        s"clause references unknown columns: ${(m.keySet -- fieldNames).mkString(", ")}")
    }

    // MERGE reads the whole table for conflict purposes: the condition
    // depends on source rows, so no static predicate bounds the read
    txn.readWholeTable()
    val partCols = md.partitionColumns
    val cdfOn = DeltaConfig.EnableChangeDataFeed.fromMetadata(md)
    val now = log.clock.nowMillis

    val tCols = fields.map(f => tRef(f).as(f.name))
    def updateProj(set: Map[String, Column]): Seq[Column] = fields.map { f =>
      set.get(f.name).map(_.cast(f.dataType).as(f.name))
        .getOrElse(tRef(f).as(f.name))
    }
    def insertProj(values: Map[String, Column]): Seq[Column] = fields.map { f =>
      values.get(f.name).map(_.cast(f.dataType).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }

    // ---- phase 1: touched files (none when the target has no files).
    // readFilesKeyed applies deletion vectors, so already-deleted rows
    // can neither match nor resurrect through the rewrite.
    val allFiles = txn.snapshot.allFiles
    val touched: Seq[AddFile] =
      if (allFiles.isEmpty) Nil
      else if (bySource.nonEmpty) allFiles // every target-only row is a candidate
      else {
        val tgt = t.readFilesKeyed(allFiles, md0).alias("t")
        val hit = tgt.join(source.alias("s"), condition, "inner")
          .select(col("t.__fp")).distinct()
          .collect().map(r => t.normPath(r.getString(0))).toSet
        allFiles.filter(f =>
          hit(t.normPath(FileNames.absolutePathString(log.dataPath, f.path))))
      }

    // first-satisfied clause index; -1 = no clause applies (null-safe: a
    // null clause condition never satisfies, per SQL WHEN semantics)
    def firstIdx(clauses: Seq[Option[Column]]): Column =
      clauses.zipWithIndex.foldRight(lit(-1): Column) { case ((cond, i), rest) =>
        when(cond.getOrElse(lit(true)), lit(i)).otherwise(rest)
      }

    // ---- nothing touched: pure insert (or no-op)
    if (touched.isEmpty) {
      if (notMatched.isEmpty) {
        // still record the idempotent txn id so a replay skips the scan
        if (txnActions.nonEmpty)
          return txn.commit(txnActions, Op.Merge,
            operationParameters = Map("predicate" -> condition.toString))
        return txn.readVersion
      }
      // ONE pass over the source: the per-clause projection is a
      // first-satisfied CASE per output column (not a union of N
      // filtered re-scans of an arbitrary source plan), and
      // numSourceRows rides the same pass as a counting filter below
      // the clause filter — no extra source execution.
      val srcAcc = spark.sparkContext.longAccumulator
      val src = source.filter(countingFilter(srcAcc))
        .alias("s")
        .withColumn("__nc", firstIdx(notMatched.map(_._1).toSeq))
        .filter(col("__nc") >= 0)
      def clauseCase(f: org.apache.spark.sql.types.StructField): Column =
        notMatched.zipWithIndex.foldRight(lit(null).cast(f.dataType): Column) {
          case (((_, a), j), rest) =>
            when(col("__nc") === j,
              resolvedIns(a).get(f.name).map(_.cast(f.dataType))
                .getOrElse(lit(null).cast(f.dataType))).otherwise(rest)
        }.as(f.name)
      // persisted: the CDC write below must see the SAME rows the data
      // files got — re-executing a nondeterministic source would emit a
      // change feed diverging from table content (and double-count the
      // accumulator)
      val insDF = src.select(fields.map(clauseCase): _*).persist()
      try {
      val adds = DeltaTable.writeFiles(spark, log.dataPath, insDF, partCols, md)
      // captured after the single materializing pass
      val nSrc = srcAcc.value.longValue
      val cdc =
        if (cdfOn) DeltaTable.writeCdcFiles(spark, log.dataPath,
          insDF.withColumn("_change_type", lit("insert")), md)
        else Nil
      // inserted rows come free from the written files' stats; when any
      // file lacks numRecords the target-row metrics are OMITTED, never
      // guessed (the rowsFromStats contract). numSourceRows is exact
      // either way — it was observed on the write pass itself.
      val rowM = t.rowsFromStats(adds) match {
        case Some(ins) => Map(
          "numTargetRowsInserted" -> ins.toString,
          "numTargetRowsUpdated" -> "0", "numTargetRowsDeleted" -> "0",
          "numTargetRowsCopied" -> "0", "numOutputRows" -> ins.toString)
        case None => Map.empty[String, String]
      }
      return txn.commit(adds ++ cdc ++ txnActions, Op.Merge,
        operationParameters = Map("predicate" -> condition.toString),
        operationMetrics = Map("numSourceRows" -> nSrc.toString) ++ rowM)
      } finally insDF.unpersist()
    }

    // ---- phase 2: rewrite only the touched files
    // row tracking: the target read resolves each row's id, so rewritten
    // rows can carry it into the new files as materialized columns —
    // pass-through rows keep (id, commit version), clause-updated rows
    // keep the id only (their version becomes this commit via the new
    // file's default), inserts materialize nothing (fresh ids)
    val rt = RowTracking.enabled(md)
    def rtCols(id: Column, rcv: Column): Seq[Column] =
      if (rt) DeltaTable.lineage(id, rcv) else Nil
    val tgt = (if (rt) t.rowIdResolved(touched, md0) else t.readFilesKeyed(touched, md0))
      .withColumn("__tid", concat_ws(":", col("__fp"), col("__ri")))
      .withColumn("__t_present", lit(true))
      .alias("t")
    // numSourceRows counted below the join (the nondeterministic filter
    // blocks predicate pushdown, so the count is every source row,
    // exactly once, before any join fan-out) — rides the single source
    // pass that materializes the persisted join
    val srcAcc = spark.sparkContext.longAccumulator
    val src = source.filter(countingFilter(srcAcc))
      .withColumn("__s_present", lit(true)).alias("s")
    val joinType = if (notMatched.nonEmpty) "full_outer" else "left_outer"
    val mT = col("__t_present").isNotNull
    val mS = col("__s_present").isNotNull
    val joined = tgt.join(src, condition, joinType)
      .withColumn("__mc", when(mT && mS, firstIdx(matched.map(_._1).toSeq)).otherwise(lit(-1)))
      .withColumn("__nc", when(!mT && mS, firstIdx(notMatched.map(_._1).toSeq)).otherwise(lit(-1)))
      .withColumn("__bc", when(mT && !mS, firstIdx(bySource.map(_._1).toSeq)).otherwise(lit(-1)))
      .persist()
    try {
      if (matched.nonEmpty) {
        val dup = joined.filter(mT && mS)
          .groupBy(col("__tid")).count().filter(col("count") > 1).limit(1).count()
        if (dup > 0) throw new UnsupportedOperationException(
          "MERGE: multiple source rows matched the same target row")
      }
      // merge-on-read (delta.enableDeletionVectors): pass-through rows
      // stay in their files — only the positions a clause actually
      // modifies are DV-masked, and only new images/inserts are written.
      // Critically, a whenNotMatchedBySource merge no longer rewrites
      // the whole table: untouched rows never leave their files.
      val dvOn = DeltaConfig.EnableDeletionVectors.fromMetadata(md)
      val frames = Seq.newBuilder[DataFrame]
      // matched rows: applied clause, or pass through when none applies
      val keepBoth = rtCols(col("t.__rt_row_id"), col("t.__rt_rcv"))
      val keepId = rtCols(col("t.__rt_row_id"), lit(null))
      val keepNone = rtCols(lit(null), lit(null))
      if (!dvOn)
        frames += joined.filter(mT && mS && col("__mc") === -1)
          .select(tCols ++ keepBoth: _*)
      matched.zipWithIndex.foreach { case ((_, a), i) =>
        a match {
          case MDelete => () // dropped from the rewrite
          case other => frames += joined.filter(col("__mc") === i)
            .select(updateProj(resolvedSet(other)) ++ keepId: _*)
        }
      }
      // target-only rows: bySource clause, or pass through
      if (!dvOn)
        frames += joined.filter(mT && !mS && col("__bc") === -1)
          .select(tCols ++ keepBoth: _*)
      bySource.zipWithIndex.foreach { case ((_, a), k) =>
        a match {
          case BDelete => ()
          case BUpdate(set) => frames += joined.filter(col("__bc") === k)
            .select(updateProj(set) ++ keepId: _*)
        }
      }
      // source-only rows: first-satisfied insert clause, else ignored
      notMatched.zipWithIndex.foreach { case ((_, a), j) =>
        frames += joined.filter(col("__nc") === j)
          .select(insertProj(resolvedIns(a)) ++ keepNone: _*)
      }
      val frameSeq = frames.result()
      val adds =
        if (frameSeq.isEmpty) Nil
        else DeltaTable.writeFiles(spark, log.dataPath,
          frameSeq.reduce(_ unionByName _), partCols, md)
      val removes: Seq[Action] =
        if (dvOn) {
          val modified = joined.filter(col("__mc") >= 0 || col("__bc") >= 0)
          t.dvMask(txn, modified, touched)._1
        } else touched.map(_.remove(now))
      val cdc =
        if (cdfOn) {
          val cdcFrames = Seq.newBuilder[DataFrame]
          matched.zipWithIndex.foreach { case ((_, a), i) =>
            val rows = joined.filter(col("__mc") === i)
            a match {
              case MDelete =>
                cdcFrames += rows.select(tCols: _*)
                  .withColumn("_change_type", lit("delete"))
              case other =>
                cdcFrames += rows.select(tCols: _*)
                  .withColumn("_change_type", lit("update_preimage"))
                cdcFrames += rows.select(updateProj(resolvedSet(other)): _*)
                  .withColumn("_change_type", lit("update_postimage"))
            }
          }
          bySource.zipWithIndex.foreach { case ((_, a), k) =>
            val rows = joined.filter(col("__bc") === k)
            a match {
              case BDelete =>
                cdcFrames += rows.select(tCols: _*)
                  .withColumn("_change_type", lit("delete"))
              case BUpdate(set) =>
                cdcFrames += rows.select(tCols: _*)
                  .withColumn("_change_type", lit("update_preimage"))
                cdcFrames += rows.select(updateProj(set): _*)
                  .withColumn("_change_type", lit("update_postimage"))
            }
          }
          notMatched.zipWithIndex.foreach { case ((_, a), j) =>
            cdcFrames += joined.filter(col("__nc") === j)
              .select(insertProj(resolvedIns(a)): _*)
              .withColumn("_change_type", lit("insert"))
          }
          val all = cdcFrames.result()
          if (all.isEmpty) Nil
          else DeltaTable.writeCdcFiles(spark, log.dataPath,
            all.reduce(_ unionByName _), md)
        } else Nil
      val allActions0 = removes ++ adds ++ cdc
      // an empty merge still records the idempotent txn id, so a replay
      // of the same (empty) batch stays a no-op instead of re-scanning
      val allActions = if (allActions0.isEmpty) txnActions else allActions0 ++ txnActions
      if (allActions.isEmpty) txn.readVersion // no clause applied anywhere
      else txn.commit(allActions, Op.Merge,
        operationParameters = Map("predicate" -> condition.toString) ++
          (if (dvOn) Map("mode" -> "deletion-vectors") else Map.empty),
        operationMetrics = rowMetrics(joined, mT, mS, dvOn, srcAcc.value.longValue))
    } finally joined.unpersist()
  }
}
