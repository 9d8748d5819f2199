package graft.delta

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.file.{DataFileReader, DataFileWriter, FileReader}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types._

/** One manifest-list record (the Iceberg spec's `manifest_file`): what a
  * generation writes for each manifest it writes, and what it reads back
  * from the previous list as the reuse pool — a reused manifest is
  * carried into the new list BY REFERENCE with its original path,
  * added_snapshot_id, sequence numbers, counts and partition summaries
  * (Iceberg manifests are immutable and designed for exactly this reuse;
  * incremental readers skip reused manifests wholesale by
  * added_snapshot_id). Public: Spark's generated serializer code must
  * reach the accessors (a private nested class silently drops whole-stage
  * codegen to the interpreted path on every generation).
  */
final case class IcebergManifestFile(path: String, length: Long,
    specId: Int, content: Int, seq: Long, minSeq: Long, addedSnapId: Long,
    addedFiles: Int, existingFiles: Int, deletedFiles: Int,
    addedRows: Long, existingRows: Long, deletedRows: Long,
    // one triple per identity-partition column, positional:
    // (contains_null, lower bound, upper bound) with bounds in the
    // Iceberg single-value binary serialization
    partSummaries: Seq[(Boolean, Option[Array[Byte]], Option[Array[Byte]])])

/** UniForm-style Iceberg metadata generation (delta-spark's
  * `delta.universalFormat.enabledFormats=iceberg` surface; public
  * Iceberg table spec v2): after a Delta commit, emit Iceberg table
  * metadata — `metadata/v<N>.metadata.json`, an Avro manifest list
  * `snap-<id>-…`, Avro data manifests, position-delete parquet files +
  * a deletes manifest for live deletion vectors, and
  * `version-hint.text` — all pointing at the SAME parquet data files,
  * so an Iceberg reader (HadoopTables catalog) reads the Delta table
  * with zero data copies.
  *
  * Field ids are STABLE across generations: each generation reuses the
  * previous metadata's name-mapping ids by (physical-name) path, so
  * schema evolution never rebinds an id to a different column — prior
  * snapshots' manifests keep resolving against their recorded
  * schema-id. Snapshots expire on the table's
  * `delta.logRetentionDuration` cadence, and each generation sweeps
  * metadata files no retained snapshot references.
  *
  * Data manifests are generated by one of three paths, recorded in the
  * snapshot summary as `graft.gen-path`:
  *  - `incremental` (every commit's post-commit generation, when it
  *    can): the previous generation is current — its snapshot is this
  *    Delta version's parent — so the commit's change set, read back from
  *    the Delta log, is applied to it on the driver with zero Spark jobs
  *    (Iceberg's manifest filter/merge on commit). Only the previous
  *    manifests whose manifest-list partition summaries can hold a
  *    removed file are opened; one that lists a removed file is
  *    rewritten (removed entries as DELETED tombstones, the others as
  *    EXISTING with their original snapshot id, sequence numbers and
  *    data_file), every other manifest is referenced unchanged (Iceberg
  *    manifests are immutable and designed for this reuse), and the
  *    commit's adds are ADDED — one new manifest per partition tuple.
  *    Position-delete files and their manifest carry forward by
  *    reference, since the DV set is unchanged.
  *  - `general`: the distributed path. The previous data manifests are
  *    read on executors and joined against the snapshot's file set; a
  *    manifest whose entries are all still live is reused by reference,
  *    the others are rewritten with their survivors as EXISTING and the
  *    vanished files as DELETED tombstones, hash-clustered by partition
  *    tuple. The driver collects only per-manifest summaries, so a
  *    10^7-file table generates with O(#manifests) driver state.
  *  - `full`: the general path with no reuse — there is no usable
  *    previous generation (none, or a partition-spec/format change), or
  *    it holds `spark.graft.iceberg.maxDataManifests` (default 64) data
  *    manifests, and this generation compacts them (Iceberg's
  *    manifest-rewrite maintenance action, amortized).
  * Generation falls back from incremental to general/full when the
  * previous generation is not current (none, or stale), on schema,
  * spec or format drift, when manifest compaction is due, when the
  * change set holds metadata, protocol or any action other than files,
  * SetTransactions and the row-tracking domain, when a file action
  * carries a deletion vector (the DV set changes), or when the touched
  * manifests hold more entries than the driver-side bound.
  *
  * Deletion vectors become Iceberg v2 POSITION-DELETE parquet files
  * (file_path, pos) — v3: Puffin DV blobs — decoded and written
  * distributed, referenced by a deletes manifest under an unpartitioned
  * spec so they apply to every matching data file regardless of its
  * partition. They carry forward by reference while the live DV set is
  * unchanged (content fingerprint in the snapshot summary), per hash
  * bucket of DV'd files otherwise.
  *
  * Honest simplifications vs the full UniForm implementation, each
  * loud or documented:
  *  - when the DV set changes, every hash bucket holding a changed DV
  *    rewrites ALL its position-delete files (new UUIDs, ADDED) — bounded
  *    by the DV'd-file count of the changed buckets;
  *  - timestamp columns require the table to have been UniForm from
  *    before its first file (this engine then writes TIMESTAMP_MICROS
  *    parquet instead of Spark's INT96 default); on-demand generation
  *    over a table with unknown timestamp encoding is refused loudly;
  *  - no Iceberg reader exists in this sandbox, so conformance is
  *    spec-structural: the suite re-reads the Avro manifests/list with
  *    the Avro library and the metadata JSON with Jackson and checks
  *    them against the Delta snapshot.
  */
object IcebergMetadata {

  private val mapper = new ObjectMapper()

  /** Most manifest entries the incremental path writes on the driver (the
    * touched manifests' entries plus the commit's adds). A larger commit
    * takes the general path, whose manifest write is distributed.
    */
  private[delta] val IncrementalMaxEntries = 20000L

  // ---- the Iceberg manifest codec: every manifest-list and manifest
  // read or write below goes through readList / readLive /
  // writeManifest / writeList

  /** What every manifest of one generation is written with; shipped to
    * the executors by the general path. `content` 0 = data, 1 = deletes.
    */
  private final case class ManifestSpec(dirStr: String,
      entrySchemaJson: String, schemaJsonStr: String, schemaId: Int,
      specId: Int, specFieldsJson: String, content: Int, formatVersion: Int,
      partMeta: Seq[(String, DataType)],
      statsCols: Seq[(String, DataType, Int)], snapshotId: Long, seqNum: Long)

  /** A delete file a deletes manifest lists: a v2 position-delete parquet
    * file, or (v3) one Puffin DV blob — `ref` the data file it applies
    * to, `off`/`len` the blob's place in the Puffin file.
    */
  private final case class DeleteFile(path: String, size: Long, rows: Long,
      ref: Option[String] = None, off: Option[Long] = None,
      len: Option[Long] = None)

  /** One manifest entry: status (0 EXISTING, 1 ADDED, 2 DELETED), the
    * snapshot id it records and its data sequence number (None for
    * ADDED: inherited from the manifest list). The data_file is built from
    * `add` at absolute path `fp`, or from `del`, or is `record`, copied
    * verbatim from a previous manifest.
    */
  private final case class ManifestEntry(status: Int, snapshotId: Long,
      seq: Option[Long], fp: String = null, add: AddFile = null,
      record: GenericRecord = null, del: DeleteFile = null) {
    def path: String =
      if (record != null) record.get("file_path").toString
      else if (del != null) del.path
      else fp
    /** Typed partition tuple: the manifest clustering key. A value
      * sequence, so a null value and the string "null" stay apart.
      */
    def tuple(partMeta: Seq[(String, DataType)]): Seq[Any] =
      if (record == null) partMeta.map { case (pn, dt) =>
        parsePartValue(dt, Option(add.partitionValues).flatMap(_.get(pn)).orNull)
      } else {
        val p = record.get("partition").asInstanceOf[GenericRecord]
        partMeta.map { case (pn, _) => avroValue(p.get(pn)) }
      }
  }

  /** A live manifest entry with its snapshot id and data sequence number
    * resolved: a null one inherits the manifest's list entry (spec).
    */
  private final case class LiveEntry(snapshotId: Long, seq: Long,
      dataFile: GenericRecord)

  /** `name` of `r`; None when null or absent from the record's schema
    * (format v1 files lack content and the sequence numbers, v1/v2 files
    * the v3 fields).
    */
  private def fieldOf(r: GenericRecord, name: String): Option[AnyRef] =
    if (r.getSchema.getField(name) == null) None else Option(r.get(name))

  private def bytesOf(v: Any): Array[Byte] = {
    val bb = v.asInstanceOf[java.nio.ByteBuffer].duplicate()
    val a = new Array[Byte](bb.remaining()); bb.get(a); a
  }

  private def readAvro[T](path: Path, conf: Configuration)(
      f: FileReader[GenericRecord] => T): T = {
    val r = DataFileReader.openReader(new FsInput(path, conf),
      new GenericDatumReader[GenericRecord]())
    try f(r) finally r.close()
  }

  /** Every record of the manifest list at `path`, missing (v1) fields as
    * 0.
    */
  private def readList(path: Path, conf: Configuration): Seq[IcebergManifestFile] =
    readAvro(path, conf)(_.iterator().asScala.map { r =>
      def l(n: String) = fieldOf(r, n).fold(0L)(_.asInstanceOf[Long])
      def i(n: String) = fieldOf(r, n).fold(0)(_.asInstanceOf[Int])
      val parts = fieldOf(r, "partitions").toList.flatMap(_
        .asInstanceOf[java.util.Collection[GenericRecord]].asScala.map { p =>
          (p.get("contains_null").asInstanceOf[Boolean],
            Option(p.get("lower_bound")).map(bytesOf),
            Option(p.get("upper_bound")).map(bytesOf))
        })
      IcebergManifestFile(r.get("manifest_path").toString, l("manifest_length"),
        i("partition_spec_id"), i("content"), l("sequence_number"),
        l("min_sequence_number"), l("added_snapshot_id"),
        i("added_files_count"), i("existing_files_count"),
        i("deleted_files_count"), l("added_rows_count"),
        l("existing_rows_count"), l("deleted_rows_count"), parts)
    }.toList)

  /** `f` over manifest `m`'s entry schema and its LIVE entries (status 2,
    * DELETED, is not live); the reader closes when `f` returns.
    */
  private def readLive[T](m: IcebergManifestFile, conf: Configuration)(
      f: (Schema, Iterator[LiveEntry]) => T): T =
    readAvro(new Path(m.path), conf) { r =>
      f(r.getSchema, r.iterator().asScala
        .filter(_.get("status").asInstanceOf[Int] != 2)
        .map(e => LiveEntry(
          fieldOf(e, "snapshot_id").fold(m.addedSnapId)(_.asInstanceOf[Long]),
          fieldOf(e, "sequence_number").fold(m.seq)(_.asInstanceOf[Long]),
          e.get("data_file").asInstanceOf[GenericRecord])))
    }

  private def avroWriter(path: Path, conf: Configuration, schema: Schema,
      meta: Seq[(String, String)]): DataFileWriter[GenericRecord] = {
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, path.getFileSystem(conf).create(path, true))
  }

  /** Write ONE manifest from an entry iterator — the general path's
    * distributed rewrite (one call per shuffle partition, on executors),
    * the incremental path (driver-side, one call per partition tuple) and
    * the deletes manifest. Empty iterator → no file, empty result.
    */
  private def writeManifest(entries: Iterator[ManifestEntry],
      conf: Configuration, ms: ManifestSpec): Iterator[IcebergManifestFile] = {
    import ms.{partMeta, statsCols}
    if (!entries.hasNext) return Iterator.empty
    val entrySchema = new Schema.Parser().parse(ms.entrySchemaJson)
    val dfSchema = entrySchema.getField("data_file").schema()
    val pSchema = dfSchema.getField("partition").schema()
    val statsMapper = new ObjectMapper()
    def kvArray(field: String,
        pairs: Seq[(Int, Any)]): GenericData.Array[GenericRecord] = {
      val arrS = dfSchema.getField(field).schema().getTypes.asScala
        .find(_.getType == Schema.Type.ARRAY).get
      val arr = new GenericData.Array[GenericRecord](pairs.length, arrS)
      pairs.foreach { case (k, v) =>
        val r = new GenericData.Record(arrS.getElementType)
        r.put("key", k)
        r.put("value", v)
        arr.add(r)
      }
      arr
    }
    def dataFileOf(fp: String, a: AddFile): GenericRecord = {
      val df = new GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", fp)
      df.put("file_format", "PARQUET")
      // v3 row lineage: EXPLICIT per-file first_row_id = the Delta
      // base row id (stable across generations; tombstones carry
      // the vanished file's original id)
      if (ms.formatVersion >= 3)
        df.put("first_row_id",
          a.baseRowId.map(java.lang.Long.valueOf).orNull)
      val p = new GenericData.Record(pSchema)
      partMeta.foreach { case (pn, dt) =>
        p.put(pn, parsePartValue(dt, a.partitionValues.getOrElse(pn, null)))
      }
      df.put("partition", p)
      // record_count is the PHYSICAL row count: deletion vectors
      // subtract at read time through the position-delete files
      val rc = Stats.numRecords(a.stats).getOrElse(
        throw new IllegalStateException(
          s"Iceberg metadata requires numRecords stats; missing on ${a.path}"))
      df.put("record_count", rc)
      df.put("file_size_in_bytes", a.size)
      // per-file column stats from the Delta stats JSON: value
      // counts (top-level = record count), null counts, and typed
      // bounds in the single-value serialization — the inputs to
      // Iceberg's FILE-level skipping, completing the chain
      // manifest-list summary -> manifest entry -> data file
      if (a.stats != null && a.stats.nonEmpty && statsCols.nonEmpty) {
        val st = statsMapper.readTree(a.stats)
        df.put("value_counts",
          kvArray("value_counts", statsCols.map(c => (c._3, rc: Any))))
        val nulls = Option(st.get("nullCount"))
        if (nulls.nonEmpty)
          df.put("null_value_counts", kvArray("null_value_counts",
            statsCols.flatMap { case (nme, _, id) =>
              Option(nulls.get.get(nme)).filter(_.isNumber)
                .map(n => (id, n.asLong: Any))
            }))
        def bounds(key: String, isUpper: Boolean): Seq[(Int, Any)] =
          Option(st.get(key)).toSeq.flatMap { b =>
            statsCols.flatMap { case (nme, dt, id) =>
              statBound(dt, b.get(nme), isUpper)
                .map(bs => (id, java.nio.ByteBuffer.wrap(bs): Any))
            }
          }
        val lows = bounds("minValues", isUpper = false)
        if (lows.nonEmpty) df.put("lower_bounds", kvArray("lower_bounds", lows))
        val highs = bounds("maxValues", isUpper = true)
        if (highs.nonEmpty) df.put("upper_bounds", kvArray("upper_bounds", highs))
      }
      df
    }
    def deleteFileOf(d: DeleteFile): GenericRecord = {
      val df = new GenericData.Record(dfSchema)
      df.put("content", 1) // POSITION_DELETES (v3: a Puffin DV blob)
      df.put("file_path", d.path)
      df.put("file_format", if (ms.formatVersion >= 3) "PUFFIN" else "PARQUET")
      df.put("partition", new GenericData.Record(pSchema))
      df.put("record_count", d.rows)
      df.put("file_size_in_bytes", d.size)
      if (ms.formatVersion >= 3) {
        df.put("referenced_data_file", d.ref.orNull)
        df.put("content_offset", d.off.map(java.lang.Long.valueOf).orNull)
        df.put("content_size_in_bytes", d.len.map(java.lang.Long.valueOf).orNull)
      }
      df
    }
    val deletes = ms.content == 1
    val out = new Path(ms.dirStr,
      s"${java.util.UUID.randomUUID()}-${if (deletes) "d0" else "m0"}.avro")
    // key-value file metadata the Iceberg spec requires on every
    // manifest — conformant readers refuse files without it
    val w = avroWriter(out, conf, entrySchema, Seq(
      "schema" -> ms.schemaJsonStr, "schema-id" -> ms.schemaId.toString,
      "partition-spec" -> ms.specFieldsJson,
      "partition-spec-id" -> ms.specId.toString,
      "format-version" -> ms.formatVersion.toString,
      "content" -> (if (deletes) "deletes" else "data")))
    // per-status (files, rows)
    val files = Array.fill(3)(0)
    val rows = Array.fill(3)(0L)
    var minSeq = Long.MaxValue
    // per-partition-column field_summary state
    val containsNull = Array.fill(partMeta.length)(false)
    val lo = Array.fill[Any](partMeta.length)(null)
    val hi = Array.fill[Any](partMeta.length)(null)
    entries.foreach { en =>
      val rec = new GenericData.Record(entrySchema)
      // EXISTING and DELETED entries store their sequence numbers
      // explicitly (spec: only ADDED entries inherit from the
      // manifest list); a DELETED tombstone's snapshot_id is the
      // deleting snapshot, its data sequence the file's own
      rec.put("status", en.status)
      rec.put("snapshot_id", en.snapshotId)
      en.seq.foreach { sq =>
        rec.put("sequence_number", sq)
        rec.put("file_sequence_number", sq)
      }
      minSeq = math.min(minSeq, en.seq.getOrElse(ms.seqNum))
      val df =
        if (en.record != null) en.record
        else if (en.del != null) deleteFileOf(en.del)
        else dataFileOf(en.fp, en.add)
      en.tuple(partMeta).zipWithIndex.foreach { case (v, i) =>
        if (v == null) containsNull(i) = true
        else {
          if (lo(i) == null || less(v, lo(i))) lo(i) = v
          if (hi(i) == null || less(hi(i), v)) hi(i) = v
        }
      }
      rec.put("data_file", df)
      w.append(rec)
      files(en.status) += 1
      rows(en.status) += df.get("record_count").asInstanceOf[Long]
    }
    w.close()
    val sums = partMeta.indices.map { i =>
      (containsNull(i),
        Option(lo(i)).map(v => boundBytes(partMeta(i)._2, v)),
        Option(hi(i)).map(v => boundBytes(partMeta(i)._2, v)))
    }
    Iterator(IcebergManifestFile(out.toString,
      out.getFileSystem(conf).getFileStatus(out).getLen, ms.specId,
      ms.content, ms.seqNum, minSeq, ms.snapshotId, files(1), files(0),
      files(2), rows(1), rows(0), rows(2), sums))
  }

  /** Write the manifest list of `ms`'s snapshot: one record per manifest,
    * reused and freshly written alike.
    */
  private def writeList(listPath: Path, conf: Configuration, ms: ManifestSpec,
      parentId: Option[Long], manifests: Seq[IcebergManifestFile]): Unit = {
    val schema = new Schema.Parser().parse(manifestListSchemaFor(ms.formatVersion))
    val partsSchema = schema.getField("partitions").schema().getTypes.asScala
      .find(_.getType == Schema.Type.ARRAY).get
    val w = avroWriter(listPath, conf, schema, Seq(
      "format-version" -> ms.formatVersion.toString,
      "snapshot-id" -> ms.snapshotId.toString,
      "sequence-number" -> ms.seqNum.toString) ++
      parentId.map(p => "parent-snapshot-id" -> p.toString))
    manifests.foreach { m =>
      val rec = new GenericData.Record(schema)
      rec.put("manifest_path", m.path)
      rec.put("manifest_length", m.length)
      rec.put("partition_spec_id", m.specId)
      rec.put("content", m.content)
      rec.put("sequence_number", m.seq)
      rec.put("min_sequence_number", m.minSeq)
      rec.put("added_snapshot_id", m.addedSnapId)
      rec.put("added_files_count", m.addedFiles)
      rec.put("existing_files_count", m.existingFiles)
      rec.put("deleted_files_count", m.deletedFiles)
      rec.put("added_rows_count", m.addedRows)
      rec.put("existing_rows_count", m.existingRows)
      rec.put("deleted_rows_count", m.deletedRows)
      // field_summary per identity-partition column: planning can skip
      // a whole manifest when a partition predicate falls outside
      // [lower, upper] — never opening it
      if (m.partSummaries.nonEmpty) {
        val arr = new GenericData.Array[GenericRecord](m.partSummaries.length, partsSchema)
        m.partSummaries.foreach { case (containsNull, lower, upper) =>
          val r = new GenericData.Record(partsSchema.getElementType)
          r.put("contains_null", containsNull)
          r.put("lower_bound", lower.map(java.nio.ByteBuffer.wrap).orNull)
          r.put("upper_bound", upper.map(java.nio.ByteBuffer.wrap).orNull)
          arr.add(r)
        }
        rec.put("partitions", arr)
      }
      w.append(rec)
    }
    w.close()
  }

  private def avroValue(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case o => o
  }

  private def less(a: Any, b: Any): Boolean = (a, b) match {
    case (x: java.lang.Integer, y: java.lang.Integer) => x < y
    case (x: java.lang.Long, y: java.lang.Long) => x < y
    case (x: String, y: String) => x < y
    case _ => false
  }

  def metadataDir(log: DeltaLog): Path = new Path(log.dataPath, "metadata")

  /** Iceberg reserved field ids for position-delete files (spec v2). */
  private[delta] val DeleteFilePathId = 2147483546L
  private[delta] val DeletePosId = 2147483545L

  /** Max UTF-8 bytes kept in a string column bound (Iceberg's
    * truncate(16) metrics convention) — manifests stay bounded even
    * when the column holds whole documents.
    */
  private[delta] val StringBoundLen = 16

  private val AvroNamePattern = java.util.regex.Pattern.compile("[A-Za-z_][A-Za-z0-9_]*")

  /** Does the schema contain a timestamp anywhere? (Spark's default
    * parquet encoding for these is INT96, which the Iceberg spec
    * forbids — see the generate() gate.)
    */
  private[delta] def hasTimestamp(dt: DataType): Boolean = dt match {
    case TimestampType | _: TimestampNTZType => true
    case s: StructType => s.fields.exists(f => hasTimestamp(f.dataType))
    case a: ArrayType => hasTimestamp(a.elementType)
    case m: MapType => hasTimestamp(m.keyType) || hasTimestamp(m.valueType)
    case _ => false
  }

  private[delta] def hasVariant(dt: DataType): Boolean = dt match {
    case _: VariantType => true
    case s: StructType => s.fields.exists(f => hasVariant(f.dataType))
    case a: ArrayType => hasVariant(a.elementType)
    case m: MapType => hasVariant(m.keyType) || hasVariant(m.valueType)
    case _ => false
  }

  /** UTF-8-boundary-safe prefix of at most `max` bytes: a valid LOWER
    * bound for any string it prefixes.
    */
  private[delta] def truncateLower(s: String, max: Int = StringBoundLen): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    if (b.length <= max) b
    else {
      var i = max
      // back off continuation bytes so the cut lands on a codepoint edge
      while (i > 0 && (b(i) & 0xc0) == 0x80) i -= 1
      java.util.Arrays.copyOf(b, i)
    }
  }

  /** Iceberg upper-bound truncation: take a codepoint prefix within
    * `max` UTF-8 bytes and increment its LAST codepoint, so the result
    * sorts >= every string sharing the prefix. Codepoints at the
    * Unicode ceiling are dropped and the previous one incremented;
    * None when no incrementable prefix exists (bound omitted —
    * spec-legal, planning just can't use it).
    */
  private[delta] def truncateUpper(s: String, max: Int = StringBoundLen): Option[Array[Byte]] = {
    val full = s.getBytes(StandardCharsets.UTF_8)
    if (full.length <= max) return Some(full)
    val prefix = new String(truncateLower(s, max), StandardCharsets.UTF_8)
    var cps = prefix.codePoints().toArray
    while (cps.nonEmpty) {
      val last = cps(cps.length - 1)
      if (last < 0x10ffff && !(last >= 0xd800 && last < 0xe000)) {
        // skip into the surrogate gap: 0xD800-0xDFFF are not scalar values
        val inc = if (last == 0xd7ff) 0xe000 else last + 1
        cps(cps.length - 1) = inc
        val sb = new java.lang.StringBuilder()
        cps.foreach(sb.appendCodePoint)
        return Some(sb.toString.getBytes(StandardCharsets.UTF_8))
      }
      cps = cps.dropRight(1)
    }
    None
  }

  /** Iceberg schema JSON from the Delta schema. Field ids come from
    * column mapping when the table has it (the ids Iceberg readers then
    * share with the parquet footers — the icebergCompat requirement);
    * otherwise positional for a FIRST generation and path-stable
    * thereafter: `prevIds` (physical-name paths -> ids from the previous
    * generation's name mapping) pins every already-seen field to its
    * old id, and new fields draw fresh ids above every id ever used —
    * ids are never reused for a different column, the Iceberg evolution
    * invariant.
    */
  private[delta] def icebergSchema(schema: StructType, mapped: Boolean,
      prevIds: Map[String, Int] = Map.empty, prevLastColumnId: Int = 0,
      formatVersion: Int = 2):
      (com.fasterxml.jackson.databind.node.ObjectNode, Int, Map[String, Int],
        com.fasterxml.jackson.databind.node.ArrayNode) = {
    var nextId = 1 + math.max(prevLastColumnId,
      if (mapped)
        schema.fields.map(_.metadata.getLong(ColumnMapping.IdKey)).max.toInt
      else if (prevIds.isEmpty) schema.fields.length
      else 0)
    def fresh(path: String): Int = prevIds.getOrElse(path, {
      val i = nextId; nextId += 1; i
    })

    if (mapped) schema.fields.foreach { f =>
      val id = f.metadata.getLong(ColumnMapping.IdKey).toInt
      val phys = ColumnMapping.physicalName(f)
      prevIds.find { case (p, i) => i == id && p != phys }.foreach { case (p, _) =>
        throw new UnsupportedOperationException(
          s"column-mapping id $id of '${f.name}' collides with the Iceberg " +
            s"field id already bound to '$p' in a prior schema; Iceberg field " +
            "ids must never rebind — regenerate metadata from scratch " +
            "(delete metadata/) or avoid adding columns to this table")
      }
    }

    // one walk builds BOTH trees so nested ids cannot diverge: the
    // Iceberg schema JSON, and the name-mapping entries binding PARQUET
    // column names (physical names under column mapping) to those ids
    def mapEntry(parent: com.fasterxml.jackson.databind.node.ArrayNode,
        id: Int, name: String): com.fasterxml.jackson.databind.node.ObjectNode = {
      val e = parent.addObject()
      e.put("field-id", id)
      e.putArray("names").add(name)
      e
    }
    def attach(entry: com.fasterxml.jackson.databind.node.ObjectNode,
        sub: com.fasterxml.jackson.databind.node.ArrayNode): Unit =
      if (sub.size > 0) entry.set("fields", sub)

    def typeJson(dt: DataType, path: String,
        mapping: com.fasterxml.jackson.databind.node.ArrayNode): Object = dt match {
      case BooleanType => "boolean"
      case ByteType | ShortType | IntegerType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case DateType => "date"
      case TimestampType => "timestamptz"
      case _: TimestampNTZType => "timestamp"
      case StringType => "string"
      case BinaryType => "binary"
      // Iceberg v3 type; generate() refuses it under format v2
      case _: VariantType => "variant"
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case s: StructType =>
        val o = mapper.createObjectNode()
        o.put("type", "struct")
        val fs = o.putArray("fields")
        s.fields.foreach { f =>
          val phys = ColumnMapping.physicalName(f)
          val sub0 = s"$path$phys"
          val id = fresh(sub0)
          val fo = fs.addObject()
          fo.put("id", id)
          fo.put("name", f.name)
          fo.put("required", !f.nullable)
          val entry = mapEntry(mapping, id, phys)
          val sub = mapper.createArrayNode()
          fo.putPOJO("type", typeJson(f.dataType, s"$sub0.", sub))
          attach(entry, sub)
        }
        o
      case a: ArrayType =>
        val o = mapper.createObjectNode()
        o.put("type", "list")
        val eid = fresh(s"${path}element")
        o.put("element-id", eid)
        o.put("element-required", !a.containsNull)
        val entry = mapEntry(mapping, eid, "element")
        val sub = mapper.createArrayNode()
        o.putPOJO("element", typeJson(a.elementType, s"${path}element.", sub))
        attach(entry, sub)
        o
      case m: MapType =>
        val o = mapper.createObjectNode()
        o.put("type", "map")
        val kid = fresh(s"${path}key")
        val vid = fresh(s"${path}value")
        o.put("key-id", kid)
        o.put("value-id", vid)
        val ke = mapEntry(mapping, kid, "key")
        val ksub = mapper.createArrayNode()
        o.putPOJO("key", typeJson(m.keyType, s"${path}key.", ksub))
        attach(ke, ksub)
        val ve = mapEntry(mapping, vid, "value")
        val vsub = mapper.createArrayNode()
        o.put("value-required", !m.valueContainsNull)
        o.putPOJO("value", typeJson(m.valueType, s"${path}value.", vsub))
        attach(ve, vsub)
        o
      case other => throw new UnsupportedOperationException(
        s"cannot express ${other.simpleString} in Iceberg metadata")
    }

    val root = mapper.createObjectNode()
    root.put("type", "struct")
    root.put("schema-id", 0) // overwritten by generate() once resolved
    val fields = root.putArray("fields")
    val rootMapping = mapper.createArrayNode()
    val ids = schema.fields.zipWithIndex.map { case (f, i) =>
      val phys = ColumnMapping.physicalName(f)
      val id =
        if (mapped) f.metadata.getLong(ColumnMapping.IdKey).toInt
        else if (prevIds.isEmpty) i + 1
        else fresh(phys)
      val fo = fields.addObject()
      fo.put("id", id)
      fo.put("name", f.name)
      fo.put("required", !f.nullable)
      // v3 defaults: an adopted initial-default round-trips verbatim;
      // a FOLDABLE Delta CURRENT_DEFAULT exports as write-default
      // (writer-side convenience — non-literal defaults are omitted)
      if (formatVersion >= 3) {
        if (f.metadata.contains(ReadDefaults.InitialKey))
          fo.set[com.fasterxml.jackson.databind.JsonNode]("initial-default",
            mapper.readTree(f.metadata.getString(ReadDefaults.InitialKey)))
        if (f.metadata.contains(ColumnDefaults.CurrentKey))
          ReadDefaults.jsonOfSql(f.dataType,
              f.metadata.getString(ColumnDefaults.CurrentKey))
            .foreach(j => fo.set[com.fasterxml.jackson.databind.JsonNode](
              "write-default", mapper.readTree(j)))
      }
      val entry = mapEntry(rootMapping, id, phys)
      val sub = mapper.createArrayNode()
      fo.putPOJO("type", typeJson(f.dataType, s"$phys.", sub))
      attach(entry, sub)
      f.name -> id
    }.toMap
    val lastUsed = math.max(nextId - 1,
      math.max(prevLastColumnId, if (ids.isEmpty) 0 else ids.values.max))
    (root, lastUsed, ids, rootMapping)
  }

  /** Physical-name-path -> field-id map recovered from a previous
    * generation's `schema.name-mapping.default` property: the id memory
    * that keeps field ids stable across generations (physical names
    * survive renames under column mapping; without mapping they ARE the
    * logical names, and Delta can't rename without mapping anyway).
    */
  private[delta] def mappingIdPaths(nameMapping: JsonNode): Map[String, Int] = {
    val out = Map.newBuilder[String, Int]
    def walk(arr: JsonNode, prefix: String): Unit =
      arr.elements().asScala.foreach { e =>
        val p = prefix + e.get("names").get(0).asText
        out += p -> e.get("field-id").asInt
        Option(e.get("fields")).foreach(walk(_, s"$p."))
      }
    walk(nameMapping, "")
    out.result()
  }

  /** Avro type for one identity-partition column in the manifest's
    * partition struct; Iceberg physical types for the supported set.
    */
  private def partAvro(dt: DataType): (String, String) = dt match {
    case IntegerType | ShortType | ByteType => ("int", "int")
    case LongType => ("long", "long")
    case StringType => ("string", "string")
    case DateType => ("int", "date")
    case other => throw new UnsupportedOperationException(
      s"unsupported Iceberg partition column type ${other.simpleString}")
  }

  private[delta] def partitionStructSchemaJson(
      partCols: Seq[(String, DataType, Int)]): String = {
    val fields = partCols.zipWithIndex.map { case ((name, dt, _), i) =>
      val (avro, _) = partAvro(dt)
      s"""{"name":"${name}","type":["null","$avro"],"default":null,"field-id":${1000 + i}}"""
    }.mkString(",")
    s"""{"type":"record","name":"r102","fields":[$fields]}"""
  }

  private def longMap(name: String, fid: Int, kid: Int, vid: Int): String =
    s"""{"name":"$name","field-id":$fid,"default":null,"type":["null",
      {"type":"array","logicalType":"map","items":
        {"type":"record","name":"k${kid}_v$vid","fields":[
          {"name":"key","type":"int","field-id":$kid},
          {"name":"value","type":"long","field-id":$vid}]}}]}"""

  private def bytesMap(name: String, fid: Int, kid: Int, vid: Int): String =
    s"""{"name":"$name","field-id":$fid,"default":null,"type":["null",
      {"type":"array","logicalType":"map","items":
        {"type":"record","name":"k${kid}_v$vid","fields":[
          {"name":"key","type":"int","field-id":$kid},
          {"name":"value","type":"bytes","field-id":$vid}]}}]}"""

  private[delta] def manifestEntrySchemaJson(partStruct: String,
      formatVersion: Int = 2): String = {
    // format v3: row-lineage first_row_id (142) on every data file, and
    // the deletion-vector triplet referenced_data_file / content_offset /
    // content_size_in_bytes (143/144/145) locating a Puffin blob
    val v3Fields =
      if (formatVersion < 3) ""
      else """,
        {"name":"first_row_id","type":["null","long"],"default":null,"field-id":142},
        {"name":"referenced_data_file","type":["null","string"],"default":null,"field-id":143},
        {"name":"content_offset","type":["null","long"],"default":null,"field-id":144},
        {"name":"content_size_in_bytes","type":["null","long"],"default":null,"field-id":145}"""
    s"""{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","type":$partStruct,"field-id":102},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        ${longMap("value_counts", 109, 119, 120)},
        ${longMap("null_value_counts", 110, 121, 122)},
        ${bytesMap("lower_bounds", 125, 126, 127)},
        ${bytesMap("upper_bounds", 128, 129, 130)},
        {"name":"equality_ids","field-id":135,"default":null,
         "type":["null",{"type":"array","element-id":136,"items":"int"}]}$v3Fields]}}]}"""
  }

  /** Iceberg single-value serialization of one Delta stats-JSON bound for
    * a top-level primitive column; None when the type has no stats or the
    * JSON value cannot express it. String bounds are truncated to
    * [[StringBoundLen]] UTF-8 bytes (upper bounds round UP via last-
    * codepoint increment) so a text-heavy table cannot inherit
    * document-sized bound blobs in its manifests.
    */
  private def statBound(dt: DataType, v: com.fasterxml.jackson.databind.JsonNode,
      isUpper: Boolean): Option[Array[Byte]] = dt match {
    case _ if v == null || v.isNull => None
    case ByteType | ShortType | IntegerType =>
      Some(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v.asInt).array())
    case LongType =>
      Some(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v.asLong).array())
    case FloatType =>
      Some(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putFloat(v.asDouble.toFloat).array())
    case DoubleType =>
      Some(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(v.asDouble).array())
    case StringType =>
      if (isUpper) truncateUpper(v.asText) else Some(truncateLower(v.asText))
    case DateType =>
      Some(java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(java.time.LocalDate.parse(v.asText).toEpochDay.toInt).array())
    case _ => None
  }

  /** v3 manifest-list entries add nullable `first_row_id` (field 520);
    * this writer leaves it null — every data file carries an EXPLICIT
    * `first_row_id` (from Delta row tracking), which the spec allows.
    */
  private[delta] def manifestListSchemaFor(formatVersion: Int): String =
    if (formatVersion < 3) manifestListSchemaJson
    else manifestListSchemaJson.replace("""{"name":"partitions"""",
      """{"name":"first_row_id","type":["null","long"],"default":null,"field-id":520},
      {"name":"partitions"""")

  private[delta] val manifestListSchemaJson: String =
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514},
      {"name":"partitions","field-id":507,"default":null,"type":["null",
        {"type":"array","element-id":508,"items":
          {"type":"record","name":"r508","fields":[
            {"name":"contains_null","type":"boolean","field-id":509},
            {"name":"lower_bound","type":["null","bytes"],"default":null,"field-id":510},
            {"name":"upper_bound","type":["null","bytes"],"default":null,"field-id":511}]}}]}]}"""

  /** Iceberg single-value binary serialization for the supported
    * identity-partition types: int/date = 4 bytes little-endian,
    * long = 8 bytes little-endian, string = UTF-8 bytes (partition
    * VALUES, not column stats — they stay short, so no truncation).
    */
  private def boundBytes(dt: DataType, v: Any): Array[Byte] = v match {
    case i: java.lang.Integer =>
      java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i).array()
    case l: java.lang.Long =>
      java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(l).array()
    case s: String => s.getBytes(StandardCharsets.UTF_8)
    case other => throw new UnsupportedOperationException(
      s"no single-value serialization for $other (${dt.simpleString})")
  }

  private def parsePartValue(dt: DataType, v: String): Any = dt match {
    case _ if v == null => null
    case IntegerType | ShortType | ByteType => java.lang.Integer.valueOf(v)
    case LongType => java.lang.Long.valueOf(v)
    case StringType => v
    case DateType =>
      java.lang.Integer.valueOf(java.time.LocalDate.parse(v).toEpochDay.toInt)
    case other => throw new UnsupportedOperationException(other.simpleString)
  }

  /** Delta partition-value string of a manifest partition-struct value:
    * the inverse of [[parsePartValue]].
    */
  private def partValueString(dt: DataType, v: Any): String =
    if (v == null) null
    else if (dt == DateType) java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
    else v.toString

  /** The incremental path's plan for one commit: its adds, the previous
    * data manifests it rewrites, and the entries of their replacements.
    */
  private final case class IncrementalPlan(adds: Seq[AddFile],
      rewritten: Set[String], entries: Seq[ManifestEntry])

  /** Plan the incremental path from one commit's `actions` against the
    * previous generation's data manifests (Iceberg's manifest
    * filter/merge on commit):
    *  - the manifests OPENED are those whose manifest-list partition
    *    summaries can hold a removed file, or a dataChange=false add
    *    (a maintenance re-add may name a path a manifest still lists);
    *  - an opened manifest that lists a removed file is REWRITTEN: the
    *    removed entries become DELETED tombstones, every other entry
    *    EXISTING with its original snapshot id, sequence number and
    *    data_file record (v3 first_row_id included); every other manifest
    *    stays referenced unchanged;
    *  - the commit's adds are ADDED.
    * None — take the general path — when the change set holds anything but
    * file, SetTransaction, CommitInfo and row-tracking domain actions; when
    * a file action carries a deletion vector (the DV set changes); when an
    * add lacks a record count (v3: a base row id); when a path is removed
    * and re-added, or an add names a path an opened manifest lists; when a
    * removed file is not found; when an opened manifest was written under
    * another entry schema; or past [[IncrementalMaxEntries]] entries.
    */
  private def planIncremental(actions: Seq[Action],
      prevDataMs: Seq[IcebergManifestFile], ms: ManifestSpec, root: Path,
      conf: Configuration, snapshotId: Long): Option[IncrementalPlan] = {
    def hasDv(d: DeletionVectorDescriptor, tags: Map[String, String]): Boolean =
      d != null || (tags != null && tags.contains(DeletionVectors.PathTag))
    val adds = actions.collect { case a: AddFile => a }
    val removes = actions.collect { case r: RemoveFile => r }
    val plain = actions.forall {
      case _: AddFile | _: RemoveFile | _: CommitInfo | _: SetTransaction => true
      case d: DomainMetadata => d.domain == RowTracking.Domain
      case _ => false
    }
    val removed = removes.map(r => FileNames.absolutePathString(root, r.path)).toSet
    val added = adds.map(a => FileNames.absolutePathString(root, a.path))
    val probes = (removes.map(_.partitionValues) ++
      adds.filterNot(_.dataChange).map(_.partitionValues)).distinct
    val opened = prevDataMs.filter(m => probes.exists(mayHold(m, _, ms.partMeta)))
    if (!plain || removes.exists(r => hasDv(r.deletionVector, r.tags)) ||
        adds.exists(a => hasDv(a.deletionVector, a.tags) ||
          Stats.numRecords(a.stats).isEmpty ||
          (ms.formatVersion >= 3 && a.baseRowId.isEmpty)) ||
        added.exists(removed) ||
        opened.map(m => m.addedFiles.toLong + m.existingFiles + m.deletedFiles)
          .sum + adds.size > IncrementalMaxEntries) return None
    val entrySchema = new Schema.Parser().parse(ms.entrySchemaJson)
    val addedSet = added.toSet
    val rewritten = Set.newBuilder[String]
    val entries = Seq.newBuilder[ManifestEntry]
    var found = 0
    val consistent = opened.forall(m => readLive(m, conf) { (schema, it) =>
      schema == entrySchema && {
        val live = it.toList
        def fp(e: LiveEntry) = e.dataFile.get("file_path").toString
        val hits = live.count(e => removed(fp(e)))
        if (hits > 0) {
          rewritten += m.path
          found += hits
          live.foreach { e =>
            entries += ManifestEntry(if (removed(fp(e))) 2 else 0,
              if (removed(fp(e))) snapshotId else e.snapshotId, Some(e.seq),
              record = e.dataFile)
          }
        }
        !live.exists(e => addedSet(fp(e)))
      }
    })
    if (!consistent || found != removed.size) None
    else Some(IncrementalPlan(adds, rewritten.result(), entries.result() ++
      adds.zip(added).map { case (a, fp) => ManifestEntry(1, snapshotId, None, fp, a) }))
  }

  /** Whether a manifest can hold a file with partition values `pv`, judged
    * from its manifest-list partition summaries (unknown values or
    * summaries: it can).
    */
  private def mayHold(m: IcebergManifestFile, pv: Map[String, String],
      partMeta: Seq[(String, DataType)]): Boolean =
    pv == null || m.partSummaries.size != partMeta.size ||
      partMeta.zip(m.partSummaries).forall { case ((pn, dt), (hasNull, lo, hi)) =>
        val v = parsePartValue(dt, pv.getOrElse(pn, null))
        if (v == null) hasNull
        else lo.exists(l => !less(v, boundValue(dt, l))) &&
          hi.exists(h => !less(boundValue(dt, h), v))
      }

  /** Inverse of [[boundBytes]]. */
  private def boundValue(dt: DataType, b: Array[Byte]): Any = dt match {
    case LongType => java.lang.Long.valueOf(java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong)
    case StringType => new String(b, StandardCharsets.UTF_8)
    case _ => java.lang.Integer.valueOf(java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
  }

  /** The GENERAL path's data manifests: `(reused previous manifest paths,
    * summaries of the manifests written)`. Files the previous generation
    * already listed are written as EXISTING with their ORIGINAL
    * snapshot-id and sequence number, read from its data manifests
    * DISTRIBUTED (one task per manifest) and joined against the
    * snapshot's file set — never driver-sized.
    */
  private def generalManifests(spark: SparkSession, snapshot: Snapshot,
      prevDataMs: Seq[IcebergManifestFile], reuseCandidates: Boolean,
      manifestSpec: ManifestSpec, snapshotId: Long,
      hconf: SerializableHadoopConf): (Set[String], Seq[IcebergManifestFile]) = {
    import spark.implicits._
    val partMeta = manifestSpec.partMeta
    val seqNum = manifestSpec.seqNum
    val prevFileInfo: Option[DataFrame] =
      if (prevDataMs.isEmpty) None
      else Some(spark.sparkContext
        .parallelize(prevDataMs, math.max(1, prevDataMs.size))
        .flatMap { m =>
          val localPartMeta = partMeta
          readLive(m, hconf.value)((_, live) => live.map { e =>
            val df = e.dataFile
            // partition values + counts ride along so a file that
            // VANISHES this generation can be written as a DELETED
            // tombstone entry without re-opening anything
            val struct = df.get("partition").asInstanceOf[GenericRecord]
            val pvs: Map[String, String] = localPartMeta.map { case (pn, dt) =>
              pn -> partValueString(dt, struct.get(pn))
            }.toMap
            (m.path, df.get("file_path").toString, e.snapshotId, e.seq, pvs,
              df.get("record_count").asInstanceOf[Long],
              df.get("file_size_in_bytes").asInstanceOf[Long],
              // v3 row lineage rides along so a DELETED tombstone can
              // preserve the vanished file's first_row_id
              fieldOf(df, "first_row_id").map(_.asInstanceOf[Long]))
          }.toList)
        }.toDF("mp", "fp", "prev_snap", "prev_seq", "pvs", "rc", "fsize", "frid")
        // read three times below (reuse vote, lineage join, tombstone
        // anti-join) — cache so the Avro manifests are opened once
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val rootForKey = snapshot.deltaLog.dataPath.toString
    val keyedFiles = snapshot.allFilesDS
      .map(a => (FileNames.absolutePathString(new Path(rootForKey), a.path), a))
      .toDF("fp", "add")

    // ---- manifest REUSE vote: a prev data manifest is carried forward
    // by reference iff every entry it lists is still live
    val reusable: Set[String] = prevFileInfo match {
      case Some(pi) if reuseCandidates =>
        val live = keyedFiles.select(col("fp"))
          .withColumn("__live", org.apache.spark.sql.functions.lit(1))
        pi.join(live, Seq("fp"), "left")
          .groupBy(col("mp"))
          .agg(org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.coalesce(col("__live"),
              org.apache.spark.sql.functions.lit(0))).as("allLive"))
          .collect()
          .collect { case r if r.getInt(1) == 1 => r.getString(0) }.toSet
      case _ => Set.empty
    }
    val withPrev0 = prevFileInfo match {
      // a corrupted/racing prior generation could double-list a path
      // across its manifests; dedup on fp (keep the OLDEST sequence —
      // the original lineage) so the left join can never fan out an
      // AddFile into duplicate manifest entries
      case Some(pi) =>
        // __anyReuse rides the same aggregation: "this path is listed
        // in SOME reusable manifest" — the pool filter below then
        // drops reused-manifest files with a map-only predicate.
        // `reusable` is bounded by spark.graft.iceberg.maxDataManifests,
        // so the membership test is a small plan literal.
        val anyReuse =
          if (reusable.isEmpty) org.apache.spark.sql.functions.lit(0)
          else org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.when(
              col("mp").isInCollection(reusable), 1).otherwise(0))
        val piDedup = pi
          .groupBy(col("fp"))
          .agg(org.apache.spark.sql.functions.min(
            org.apache.spark.sql.functions.struct(
              col("prev_seq"), col("prev_snap"))).as("__ps"),
            anyReuse.as("__anyReuse"))
          .select(col("fp"), col("__ps.prev_snap").as("prev_snap"),
            col("__ps.prev_seq").as("prev_seq"), col("__anyReuse"))
        keyedFiles.join(piDedup, Seq("fp"), "left")
      case None => keyedFiles
        .withColumn("prev_snap", org.apache.spark.sql.functions.lit(null).cast("long"))
        .withColumn("prev_seq", org.apache.spark.sql.functions.lit(null).cast("long"))
        .withColumn("__anyReuse", org.apache.spark.sql.functions.lit(0))
    }
    // the REWRITE pool: live files not covered by a reused manifest —
    // truly-new files (ADDED, __anyReuse null after the left join)
    // plus the survivors of rewritten manifests (EXISTING with
    // original lineage)
    val withPrev = withPrev0
      .filter(org.apache.spark.sql.functions.coalesce(col("__anyReuse"),
        org.apache.spark.sql.functions.lit(0)) === 0)
      .drop("__anyReuse")
    // files that VANISHED this generation become status=2 DELETED
    // tombstone entries in the rewritten manifests (spec: snapshot_id =
    // the deleting snapshot, data sequence preserved), so an Iceberg
    // incremental DELETE consumer reads the removed set directly. They
    // ride the pool as pseudo-AddFiles (partition/count/size from the
    // prev manifest entry — nothing is re-opened); a reused manifest
    // by definition lost nothing.
    val removedDF: Option[DataFrame] = prevFileInfo.map { pi =>
      pi.join(keyedFiles.select(col("fp")), Seq("fp"), "left_anti")
        .dropDuplicates("fp")
        .select(col("fp"), col("pvs"), col("rc"), col("fsize"),
          col("prev_snap"), col("prev_seq"), col("frid"))
        .as[(String, Map[String, String], Long, Long, Long, Long, Option[Long])]
        .map { case (fp0, pvs, rc, fsize, snap, seq, frid) =>
          (fp0, AddFile(fp0, pvs, fsize, 0L, dataChange = false,
            stats = s"""{"numRecords":$rc}""", baseRowId = frid),
            Option(snap), Option(seq), true)
        }.toDF("fp", "add", "prev_snap", "prev_seq", "__deleted")
    }
    val pool = removedDF match {
      case Some(r) => withPrev
        .withColumn("__deleted", org.apache.spark.sql.functions.lit(false))
        .unionByName(r)
      case None => withPrev
        .withColumn("__deleted", org.apache.spark.sql.functions.lit(false))
    }
    // cluster manifests BY THE FULL PARTITION TUPLE (one metadata-sized
    // shuffle): a manifest covering one partition value gets tight
    // field_summary bounds on EVERY partition column
    val clustered =
      if (partMeta.isEmpty) pool
      else pool.repartition(
        partMeta.map(pc => col("add.partitionValues").getItem(pc._1)): _*)
    val clusteredFiles = clustered
      .select(col("fp"), col("add"), col("prev_snap"), col("prev_seq"),
        col("__deleted"))
      .as[(String, AddFile, Option[Long], Option[Long], Boolean)]
    // a file the previous generation listed (under an OLDER snapshot)
    // is EXISTING with its original snapshot-id and sequence number;
    // genuinely new files — and a same-version regeneration's own
    // files — are ADDED by this snapshot
    val written = clusteredFiles.mapPartitions(files =>
        writeManifest(files.map {
          case (fp, a, _, prevSeq, true) =>
            ManifestEntry(2, snapshotId, Some(prevSeq.getOrElse(seqNum)), fp, a)
          case (fp, a, Some(ps), prevSeq, _) if ps != snapshotId =>
            ManifestEntry(0, ps, Some(prevSeq.getOrElse(seqNum)), fp, a)
          case (fp, a, _, _, _) => ManifestEntry(1, snapshotId, None, fp, a)
        }, hconf.value, manifestSpec))
      .collect().toSeq
    prevFileInfo.foreach(_.unpersist())
    (reusable, written)
  }

  /** Generate Iceberg metadata for `snapshot`; returns the Iceberg
    * metadata version N (= delta version + 1). `retainMsOverride`
    * replaces the snapshot-retention window (normally the table's
    * `delta.logRetentionDuration`) — VACUUM passes Some(0) to expire
    * every non-current Iceberg snapshot before their data files go away.
    * `incremental` reads this version's change set from the Delta log and
    * takes the incremental path when its conditions hold (see the class
    * doc); without it generation always takes the general (or full) path.
    */
  def generate(spark: SparkSession, log: DeltaLog, snapshot: Snapshot,
      retainMsOverride: Option[Long] = None,
      incremental: Boolean = false): Long = {
    val genStart = log.clock.nowMillis
    val md = snapshot.metadataOpt.getOrElse(throw new IllegalStateException(
      "cannot generate Iceberg metadata for a table without metadata"))
    val mapped = ColumnMapping.enabled(md)
    val schema = md.schema
    val uniform = DeltaConfig.UniversalFormats.fromMetadata(md).contains("iceberg")
    // Spark's default parquet timestamp encoding is INT96, which the
    // Iceberg spec does not permit for timestamp/timestamptz — metadata
    // declaring INT64-micros over INT96 data would misdecode in a
    // conformant reader. UniForm-configured tables are safe: the write
    // path stamps TIMESTAMP_MICROS whenever the table property is set,
    // and the enablement commit refuses tables that already hold files
    // (see OptimisticTransaction). On-demand generation over anything
    // else is refused loudly (the DV-era refusal contract).
    if (hasTimestamp(schema) && !uniform)
      throw new UnsupportedOperationException(
        "Iceberg metadata generation over timestamp columns requires " +
          "delta.universalFormat.enabledFormats=iceberg (whose write path " +
          "emits TIMESTAMP_MICROS parquet); without it this engine's files " +
          "are INT96 (Spark default), which the Iceberg spec forbids")
    // ---- format version: 2 (default) or 3. v3 exports deletion vectors
    // NATIVELY as Puffin blobs (raw-copied from the Delta DV payloads —
    // zero decode) and carries the spec's required row lineage, mapped
    // from Delta row tracking: every data file's first_row_id IS its
    // baseRowId, next-row-id IS the row-id high-water mark + 1.
    val formatVersion = md.configuration
      .getOrElse("graft.iceberg.formatVersion", "2").toInt
    require(formatVersion == 2 || formatVersion == 3,
      s"graft.iceberg.formatVersion must be 2 or 3, got $formatVersion")
    // variant is an Iceberg v3 type: Spark's parquet encoding of a
    // variant column IS the open variant binary spec Iceberg v3 adopted
    // (metadata+value), so v3 metadata declares it faithfully; a v2
    // export would have to lie about the type — refuse loudly (the
    // enablement gate mirrors this for configured tables)
    if (hasVariant(schema) && formatVersion < 3)
      throw new UnsupportedOperationException(
        "Iceberg metadata generation over a variant column requires " +
          "graft.iceberg.formatVersion=3 (variant is an Iceberg v3 type; " +
          "format v2 has no faithful declaration for it)")
    // initial-default is a v3 schema field: a v2 export would silently
    // DROP it while still listing the pre-evolution files, so an
    // external reader null-fills exactly the rows the default covers —
    // the same silent-misread class as variant, refused the same way
    if (formatVersion < 3 &&
        schema.fields.exists(_.metadata.contains(ReadDefaults.InitialKey)))
      throw new UnsupportedOperationException(
        "Iceberg metadata generation over a column carrying an imported " +
          "initial-default requires graft.iceberg.formatVersion=3 " +
          "(initial-default is a v3 schema field; a v2 export would " +
          "silently null-fill pre-evolution rows in external readers)")
    def requireRowTracking(): Unit =
      require(RowTracking.enabled(md),
        "graft.iceberg.formatVersion=3 requires delta.enableRowTracking: " +
          "Iceberg v3 row lineage (first_row_id / next-row-id) maps from " +
          "Delta base row ids")
    // the smallest base row id this version assigned: the v3 validation +
    // aggregation over the FULL file listing (the incremental path folds
    // the commit's adds instead)
    def firstRowIdGeneral(): Option[Long] = {
        requireRowTracking()
        import org.apache.spark.sql.functions.{min => sqlMin, sum => sqlSum, when => sqlWhen, lit => sqlLit}
        val r = snapshot.allFilesDS.toDF()
          .agg(
            sqlSum(sqlWhen(col("baseRowId").isNull, 1).otherwise(0)).as("missing"),
            sqlSum(sqlWhen(col("tags").getItem(DeletionVectors.PathTag).isNotNull, 1)
              .otherwise(0)).as("legacy"),
            sqlMin(sqlWhen(col("defaultRowCommitVersion") === sqlLit(snapshot.version),
              col("baseRowId"))).as("frid"))
          .head()
        val missing = if (r.isNullAt(0)) 0L else r.getLong(0)
        val legacy = if (r.isNullAt(1)) 0L else r.getLong(1)
        require(missing == 0,
          s"$missing file(s) lack a baseRowId; Iceberg v3 requires row " +
            "lineage on every data file — run the row-tracking backfill first")
        require(legacy == 0,
          s"$legacy file(s) carry legacy-parquet deletion vectors, which " +
            "cannot be exported as Puffin blobs — a DELETE or OPTIMIZE " +
            "migrates them to the protocol format")
        if (r.isNullAt(2)) None else Some(r.getLong(2))
      }
    // partition column names are interpolated into the Avro partition
    // struct schema — refuse names outside Avro's name grammar loudly
    // instead of emitting a malformed schema that fails downstream
    md.partitionColumns.find(n => !AvroNamePattern.matcher(n).matches())
      .foreach { n =>
        throw new UnsupportedOperationException(
          s"partition column name '$n' is not a legal Avro name " +
            "([A-Za-z_][A-Za-z0-9_]*); Iceberg manifests cannot express it")
      }

    val dir = metadataDir(log)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val hintPath = new Path(dir, "version-hint.text")

    // previous generation: the accumulated snapshot log AND the field-id
    // memory that keeps ids stable across schema evolution
    val prev: Option[JsonNode] =
      if (!fs.exists(hintPath)) None
      else {
        val prevN = new String(readAll(fs, hintPath), StandardCharsets.UTF_8).trim.toLong
        val prevMeta = new Path(dir, s"v$prevN.metadata.json")
        if (fs.exists(prevMeta)) {
          val p = mapper.readTree(readAll(fs, prevMeta))
          // self-generated metadata satisfies current-snapshot-id == N (the
          // hint): snapshot ids here are delta-version+1 by construction. A
          // FOREIGN metadata dir (arbitrary snapshot ids — e.g. left behind
          // by convertFromIceberg) must not be built upon: the snapshot
          // carry-forward, v<id>.metadata.json keep-set and metadata-log
          // reconstruction all assume our naming, so generating over it
          // would sweep the foreign table's own files. Refuse loudly.
          if (Option(p.get("current-snapshot-id")).forall(_.asLong != prevN))
            throw new UnsupportedOperationException(
              s"metadata/ at ${log.dataPath} was not generated by this " +
                "engine (current-snapshot-id != version hint); refusing to " +
                "build on foreign Iceberg metadata — move it aside (delete " +
                "metadata/) to regenerate from scratch")
          Some(p)
        } else None
      }
    val prevSchemas: Seq[JsonNode] = prev.toSeq.flatMap(p =>
      Option(p.get("schemas")).toSeq.flatMap(_.elements().asScala))
    val prevLastColumnId = prev.map(_.get("last-column-id").asInt).getOrElse(0)
    val prevIds: Map[String, Int] = prev.flatMap(p =>
      Option(p.get("properties"))
        .flatMap(ps => Option(ps.get("schema.name-mapping.default")))
        .map(nm => mappingIdPaths(mapper.readTree(nm.asText))))
      .getOrElse(Map.empty)

    val (schemaJson, lastColumnId, fieldIds, nameMapping) =
      icebergSchema(schema, mapped, prevIds, prevLastColumnId, formatVersion)
    // schema-id: reuse the previous id when the field tree is unchanged,
    // else mint the next one and RETAIN the prior schemas — accumulated
    // snapshots reference their own schema-id, so a time-travel read
    // resolves old manifests against the schema they were written under
    val prevCurrentSchemaId = prev.map(_.get("current-schema-id").asInt)
    val prevCurrentSchema = prevCurrentSchemaId.flatMap(id =>
      prevSchemas.find(_.get("schema-id").asInt == id))
    // normalize the freshly built node through serialize+reparse before
    // comparing: putPOJO leaves POJONode wrappers that are != the
    // TextNodes a reparse of identical JSON yields
    val builtFields = mapper.readTree(
      mapper.writeValueAsString(schemaJson)).get("fields")
    val schemaId: Int = prevCurrentSchema match {
      case Some(pc) if pc.get("fields") == builtFields =>
        prevCurrentSchemaId.get
      case _ =>
        prevSchemas.map(_.get("schema-id").asInt).foldLeft(-1)(math.max) + 1
    }
    schemaJson.put("schema-id", schemaId)
    val schemaJsonStr = mapper.writeValueAsString(schemaJson)

    val partCols: Seq[(String, DataType, Int)] = md.partitionColumns.map { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalStateException(s"partition column $c not in schema"))
      (c, f.dataType, fieldIds(c))
    }
    val specFieldsJson: String = {
      val arr = mapper.createArrayNode()
      partCols.zipWithIndex.foreach { case ((n, _, srcId), i) =>
        val f = arr.addObject()
        f.put("name", n)
        f.put("transform", "identity")
        f.put("source-id", srcId)
        f.put("field-id", 1000 + i)
      }
      mapper.writeValueAsString(arr)
    }

    val hconf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val dirStr = dir.toString
    val dataRoot = log.dataPath.toString
    val version = snapshot.version
    val snapshotId = version + 1L // Iceberg snapshot ids start life at 1 here
    val seqNum = version + 1L

    val partMeta = partCols.map { case (n, dt, _) => (n, dt) }
    // top-level primitive columns whose Delta stats become Iceberg
    // per-file column stats (value/null counts + typed bounds)
    def statsSupported(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType => true
      case _ => false
    }
    val manifestSpec = ManifestSpec(dirStr,
      manifestEntrySchemaJson(partitionStructSchemaJson(partCols), formatVersion),
      schemaJsonStr, schemaId, 0, specFieldsJson, 0, formatVersion, partMeta,
      schema.fields.toSeq.filter(f => statsSupported(f.dataType))
        .map(f => (f.name, f.dataType, fieldIds(f.name))),
      snapshotId, seqNum)
    import spark.implicits._
    // previous generation's manifest-list entries, parsed in full on the
    // driver (O(#manifests)): both the lineage source and the REUSE pool.
    // None when unreadable: no reuse and no incremental path, every live
    // file enters as ADDED (full-scan readers unaffected; incremental
    // ones re-see old files once)
    val prevCurSnap: Option[JsonNode] = prev.flatMap(p =>
      p.get("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong == p.get("current-snapshot-id").asLong))
    val prevListRead: Option[Seq[IcebergManifestFile]] = prevCurSnap.flatMap { sn =>
      try Some(readList(new Path(sn.get("manifest-list").asText), fs.getConf))
      catch { case scala.util.control.NonFatal(_) => None }
    }
    val prevList = prevListRead.getOrElse(Nil)
    val prevDataMs = prevList.filter(_.content == 0)
    val prevCurSummary: Option[JsonNode] =
      prevCurSnap.flatMap(sn => Option(sn.get("summary")))
    val prevDvFp: Option[String] = prevCurSummary
      .flatMap(su => Option(su.get("graft.dv-fingerprint")).map(_.asText))
    val prevBucketFps: Map[Int, String] = prevCurSummary
      .flatMap(su => Option(su.get("graft.dv-bucket-fps")).map(_.asText))
      .map(txt => mapper.readTree(txt).fields().asScala
        .map(en => en.getKey.toInt -> en.getValue.asText).toMap)
      .getOrElse(Map.empty)
    val prevDeleteMs = prevList.filter(_.content == 1)
    val maxDataManifests = spark.conf.get(
      "spark.graft.iceberg.maxDataManifests", "64").toInt
    val specUnchanged = prev.exists { p =>
      val prevSpecId = Option(p.get("default-spec-id")).map(_.asInt).getOrElse(0)
      Option(p.get("partition-specs")).exists(_.elements().asScala.exists(sp =>
        sp.get("spec-id").asInt == prevSpecId &&
          sp.get("fields") == mapper.readTree(specFieldsJson))) &&
        Option(p.get("format-version")).map(_.asInt).getOrElse(2) == formatVersion
    }
    // manifest reuse is valid only under an unchanged partition spec and
    // format, and is skipped for one generation past the manifest-count
    // threshold — that generation does a full partition-clustered
    // rewrite, compacting the list (Iceberg's manifest-rewrite action)
    val reuseCandidates = specUnchanged && prevDataMs.size < maxDataManifests
    // ---- INCREMENTAL path: the previous generation is this version's
    // parent (its snapshot id is this Delta version), so the commit's
    // change set, read from the Delta log, is all that separates them
    val incr: Option[IncrementalPlan] =
      if (!incremental || !reuseCandidates || prevListRead.isEmpty ||
          !prev.exists(_.get("current-snapshot-id").asLong == version) ||
          !prevCurrentSchemaId.contains(schemaId) ||
          (prevDeleteMs.nonEmpty && prevDvFp.isEmpty)) None
      else log.readCommit(version).flatMap(lines =>
        planIncremental(lines.flatMap(Actions.fromJson), prevDataMs,
          manifestSpec, log.dataPath, fs.getConf, snapshotId))
    val genPath =
      if (incr.isDefined) "incremental" else if (reuseCandidates) "general" else "full"
    val firstRowId: Option[Long] =
      if (formatVersion < 3) None
      else incr match {
        case Some(plan) =>
          // resident files were validated by the previous generation and
          // the plan validated the commit's own adds
          requireRowTracking()
          plan.adds.filter(_.defaultRowCommitVersion.contains(version))
            .flatMap(_.baseRowId).minOption
        case None => firstRowIdGeneral()
      }
    val (reusableMps, written): (Set[String], Seq[IcebergManifestFile]) =
      incr match {
        case Some(plan) =>
          // one manifest per partition tuple (tight field_summary bounds,
          // so Iceberg planning skips whole manifests on partition
          // predicates), written on the driver
          (prevDataMs.map(_.path).toSet -- plan.rewritten,
            plan.entries.groupBy(_.tuple(partMeta)).values.toSeq
              .sortBy(_.map(_.path).min)
              .flatMap(g => writeManifest(g.sortBy(_.path).iterator,
                fs.getConf, manifestSpec)))
        case None => generalManifests(spark, snapshot, prevDataMs,
          reuseCandidates, manifestSpec, snapshotId, hconf)
      }

    // ---- position deletes: every live deletion vector becomes rows of
    // an Iceberg v2 position-delete parquet file (file_path, pos), so a
    // merge-on-read DELETE/UPDATE no longer excludes the table from
    // UniForm. Decode + write run DISTRIBUTED (DeletionVectors.rowsDF);
    // the driver holds only the DV'd AddFile descriptors (the same
    // O(#DV'd files) contract the DML paths use) and the per-delete-file
    // summaries. Delete files live under metadata/ — VACUUM skips an
    // Iceberg metadata dir — and are written under an UNPARTITIONED spec
    // so they apply to matching data files in every partition.
    // legacy-tag DVs (pre-protocol graft tables) count too: rowsDF
    // decodes their parquet sidecars, so the v2 export stays row-exact
    // on them (v3 refuses them above — Puffin blobs need the protocol
    // payload format)
    val dvFiles: Seq[AddFile] =
      if (incr.isDefined) Nil // the plan requires an unchanged DV set
      else snapshot.dvFiles
    val deleteSpecId = if (partCols.isEmpty) 0 else 1
    // ---- delete-side reuse, two granularities:
    // (1) whole-set: a content fingerprint of the live DV descriptors —
    //     unchanged means the delete manifest AND every delete parquet
    //     carry forward by reference (append commits re-decode nothing);
    // (2) per-BUCKET (the A48 sidecar trick at delete granularity): DV'd
    //     files hash-bucket by path into `spark.graft.iceberg
    //     .deleteBuckets` stable buckets, delete parquet is written
    //     under __bucket=K dirs, and each bucket's descriptor
    //     fingerprint rides the snapshot summary — a DML commit that
    //     changes k DVs re-decodes only the touched buckets (~k/N of
    //     the DV set), referencing the other buckets' delete files as
    //     EXISTING entries with their original snapshot/sequence.
    def dvDescLine(f: AddFile): String = {
      val d = DeletionVectors.descriptor(f).get
      s"${f.path}|${d.storageType}|${d.pathOrInlineDv}|${d.offset}|" +
        s"${d.sizeInBytes}|${d.cardinality}"
    }
    def fpDigest(lines: Seq[String]): String = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      lines.sorted.foreach(s => md5.update(s.getBytes(StandardCharsets.UTF_8)))
      java.util.Base64.getEncoder.encodeToString(md5.digest())
    }
    val nDelBuckets = spark.conf.get(
      "spark.graft.iceberg.deleteBuckets", "32").toInt
    // stable path->bucket hash, identical to the executor-side SQL
    // expression below: first 8 hex chars of md5(normalized path)
    def delBucket(nfp: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(nfp.getBytes(StandardCharsets.UTF_8))
      val hex = d.take(4).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % nDelBuckets).toInt
    }
    def normFpOf(f: AddFile): String =
      FileNames.absolutePathString(log.dataPath, f.path)
        .replaceFirst("^file:/+", "/")
    val dvByBucket: Map[Int, Seq[AddFile]] =
      dvFiles.groupBy(f => delBucket(normFpOf(f)))
    val bucketFps: Map[Int, String] =
      dvByBucket.map { case (b, fsq) => b -> fpDigest(fsq.map(dvDescLine)) }
    val dvFingerprint: String =
      if (dvFiles.isEmpty) "" else fpDigest(dvFiles.map(dvDescLine))
    val reuseDeletes = (incr.isDefined && prevDeleteMs.nonEmpty) ||
      (dvFiles.nonEmpty && specUnchanged &&
        prevDeleteMs.nonEmpty && prevDvFp.contains(dvFingerprint))
    // previous generation's delete-file entries (driver, O(#delete
    // files)): the per-bucket reuse pool. Files from pre-bucketing
    // generations carry no __bucket= path segment -> bucket None ->
    // never partially reused (one full rewrite migrates the layout).
    // Each re-enters the new deletes manifest as EXISTING with its
    // original snapshot and sequence (v3 Puffin DV entries re-emit their
    // blob coordinates verbatim).
    val BucketDirRe = ".*/__bucket=(\\d+)/[^/]+$".r
    def bucketOf(e: ManifestEntry): Option[Int] =
      e.path match { case BucketDirRe(b) => Some(b.toInt); case _ => None }
    val prevDelFiles: Seq[ManifestEntry] =
      if (reuseDeletes || dvFiles.isEmpty || !specUnchanged || prevDeleteMs.isEmpty) Nil
      else prevDeleteMs.flatMap { m =>
        try readLive(m, fs.getConf)((_, live) => live.map { e =>
          val df = e.dataFile
          ManifestEntry(0, e.snapshotId, Some(e.seq), del = DeleteFile(
            df.get("file_path").toString,
            df.get("file_size_in_bytes").asInstanceOf[Long],
            df.get("record_count").asInstanceOf[Long],
            fieldOf(df, "referenced_data_file").map(_.toString),
            fieldOf(df, "content_offset").map(_.asInstanceOf[Long]),
            fieldOf(df, "content_size_in_bytes").map(_.asInstanceOf[Long])))
        }.toList)
        catch { case scala.util.control.NonFatal(_) => Nil }
      }
    val reusableDelBuckets: Set[Int] = bucketFps.keySet.filter(b =>
      prevBucketFps.get(b).contains(bucketFps(b)) &&
        prevDelFiles.exists(bucketOf(_).contains(b)))
    val reusedDelFiles: Seq[ManifestEntry] =
      prevDelFiles.filter(bucketOf(_).exists(reusableDelBuckets))
    // only the CHANGED buckets' DVs are decoded and rewritten
    val dvToWrite: Seq[AddFile] =
      if (dvFiles.isEmpty || reuseDeletes) Nil
      else dvByBucket.filterNot { case (b, _) => reusableDelBuckets(b) }
        .values.flatten.toSeq
    // one output row per delete FILE (v2 parquet) or per DV BLOB (v3
    // puffin)
    val deleteFiles: Seq[DeleteFile] =
      if (dvToWrite.isEmpty) Nil
      else if (formatVersion >= 3) {
        // v3: the Delta DV payloads ARE the blob bodies (same framing,
        // same magic, same bitmap serialization) — RAW-COPIED on
        // executors, one task per changed bucket, one Puffin file per
        // bucket, one blob per data file. Nothing is decoded, ever.
        val bucketsToWrite: Seq[(Int, Seq[(String, DeletionVectorDescriptor)])] =
          dvByBucket.toSeq
            .filterNot { case (b, _) => reusableDelBuckets(b) }
            .map { case (b, fsq) =>
              b -> fsq.map(f =>
                (FileNames.absolutePathString(log.dataPath, f.path),
                  DeletionVectors.descriptor(f).get))
            }
        val snapIdLocal = snapshotId
        val seqLocal = seqNum
        val dataRootLocal = dataRoot
        spark.sparkContext
          .parallelize(bucketsToWrite, math.max(1, bucketsToWrite.size))
          .flatMap { case (b, files) =>
            val conf = hconf.value
            val bucketDir = new Path(dirStr, s"__bucket=$b")
            bucketDir.getFileSystem(conf).mkdirs(bucketDir)
            val out = new Path(bucketDir,
              s"delete-${java.util.UUID.randomUUID()}.puffin")
            val blobs = files.sortBy(_._1).map { case (abs, d) =>
              IcebergPuffin.DvBlob(abs, d.cardinality,
                IcebergPuffin.blobBodyOf(new Path(dataRootLocal), d, conf))
            }
            val (locs, flen) = IcebergPuffin.writeDvFile(
              out, conf, snapIdLocal, seqLocal, blobs)
            locs.map(l => DeleteFile(out.toString, flen, l.cardinality,
              Option(l.referencedDataFile), Option(l.offset), Option(l.length)))
          }.collect().toSeq
      } else {
        val pathPairs = dvToWrite.map { f =>
          val abs = FileNames.absolutePathString(log.dataPath, f.path)
          (abs.replaceFirst("^file:/+", "/"), abs)
        }
        val pathMap = spark.createDataset(pathPairs).toDF("fp", "abs")
        val fieldMeta = (id: Long) => new MetadataBuilder()
          .putLong("parquet.field.id", id).build()
        import org.apache.spark.sql.functions.{conv, lit, md5, pmod, substring}
        val deletes = DeletionVectors.rowsDF(spark, log.dataPath, dvToWrite).get
          .join(broadcast(pathMap), "fp")
          .withColumn("__bucket", pmod(
            conv(substring(md5(col("fp")), 1, 8), 16, 10).cast("long"),
            lit(nDelBuckets.toLong)).cast("int"))
          .select(
            col("__bucket"),
            col("abs").as("file_path", fieldMeta(DeleteFilePathId)),
            col("ri").as("pos", fieldMeta(DeletePosId)))
          .repartition(math.max(1, math.min(dvToWrite.size, 32)), col("__bucket"))
          // the bucket prefix satisfies the partitioned write's required
          // ordering, so the (path, pos) spec order survives to the files
          .sortWithinPartitions("__bucket", "file_path", "pos")
        val committer = new DirectWriteCommitProtocol(
          s"graft-posdel-${java.util.UUID.randomUUID}", dirStr)
        org.apache.spark.sql.GraftShims.writeParquetDirect(
          spark, deletes, dirStr, Seq("__bucket"), committer)
        val rels = committer.addedFiles()
        val delSchema = org.apache.spark.sql.types.StructType(
          deletes.schema.filterNot(_.name == "__bucket"))
        spark.sparkContext
          .parallelize(rels, math.max(1, math.min(rels.size, 32)))
          .map { rel =>
            val c = hconf.value
            val p = new Path(new Path(dirStr), rel)
            val st = p.getFileSystem(c).getFileStatus(p)
            val rc = Stats.numRecords(
              Stats.fromFooter(c, p, delSchema, Nil, 0)).getOrElse(0L)
            DeleteFile(p.toString, st.getLen, rc)
          }.collect().toSeq
      }
    // one deletes manifest referencing the delete files (driver-side:
    // O(#delete files) entries): freshly written buckets as ADDED,
    // unchanged buckets' files as EXISTING with original lineage
    val deleteManifest: Seq[IcebergManifestFile] = writeManifest(
      (reusedDelFiles ++ deleteFiles.map(d => ManifestEntry(1, snapshotId, None, del = d))).iterator,
      fs.getConf, manifestSpec.copy(
        entrySchemaJson = manifestEntrySchemaJson(partitionStructSchemaJson(Nil), formatVersion),
        specId = deleteSpecId, specFieldsJson = "[]", content = 1, partMeta = Nil)).toList

    // ---- manifest list (driver: O(#manifests) rows). Reused manifests
    // (data manifests whose entries are all still live; the delete
    // manifest when the DV set is unchanged) are referenced by their
    // ORIGINAL path with original snapshot/sequence/counts — the
    // incremental-generation core. Iceberg readers treat the list as the
    // complete truth of the snapshot; reused entries resolve exactly as
    // they did in the generation that wrote them.
    fs.mkdirs(dir)
    val listPath = new Path(dir, f"snap-$snapshotId-1-${java.util.UUID.randomUUID()}.avro")
    writeList(listPath, fs.getConf, manifestSpec,
      prev.map(_.get("current-snapshot-id").asLong),
      prevList.filter(m => (m.content == 0 && reusableMps.contains(m.path)) ||
        (m.content == 1 && reuseDeletes)) ++ written ++ deleteManifest)

    // ---- table metadata JSON (v2), accumulating the snapshot log of a
    // previous generation when one exists, expiring entries past the
    // retention window
    val retainMs = retainMsOverride.getOrElse(
      DeltaConfig.LogRetention.fromMetadata(md))
    val now = log.clock.nowMillis
    val root = mapper.createObjectNode()
    root.put("format-version", formatVersion)
    root.put("table-uuid", md.id)
    root.put("location", dataRoot)
    root.put("last-sequence-number", seqNum)
    // v3 row lineage: the table's next unassigned row id is exactly the
    // Delta row-tracking high-water mark + 1
    if (formatVersion >= 3)
      root.put("next-row-id",
        RowTracking.highWaterMark(snapshot.domainMetadata) + 1)
    root.put("last-updated-ms", now)
    root.put("last-column-id", math.max(lastColumnId, prevLastColumnId))
    root.put("current-schema-id", schemaId)
    val schemasArr = root.putArray("schemas")
    prevSchemas.filter(_.get("schema-id").asInt != schemaId)
      .foreach(schemasArr.add)
    schemasArr.add(schemaJson)
    root.put("default-spec-id", 0)
    val specs = root.putArray("partition-specs")
    val spec = specs.addObject()
    spec.put("spec-id", 0)
    spec.set[JsonNode]("fields", mapper.readTree(specFieldsJson))
    if (partCols.nonEmpty) {
      // the unpartitioned spec position-delete manifests are written
      // under (declared unconditionally so carried-forward snapshots
      // whose manifests reference it always resolve)
      val delSpec = specs.addObject()
      delSpec.put("spec-id", 1)
      delSpec.putArray("fields")
    }
    root.put("last-partition-id", if (partCols.isEmpty) 999 else 999 + partCols.length)
    root.put("default-sort-order-id", 0)
    val so = root.putArray("sort-orders").addObject()
    so.put("order-id", 0)
    so.putArray("fields")
    // name mapping (Iceberg spec: `schema.name-mapping.default`): the
    // parquet files were written by the DELTA path, so their footers
    // carry field ids only in column-mapping id mode, and under name
    // mode their physical column names are UUIDs — the name mapping
    // resolves PARQUET names to the schema field ids, which is how a
    // reader binds imported files in both cases
    val props = root.putObject("properties")
    props.put("schema.name-mapping.default",
      mapper.writeValueAsString(nameMapping))
    root.put("current-snapshot-id", snapshotId)
    val snaps = root.putArray("snapshots")
    // carry forward prior snapshots, dropping (a) a same-id entry from a
    // re-generation of this version and (b) entries past the retention
    // window — the Iceberg analogue of Delta's expired-log cleanup
    val cutoff = genStart - retainMs
    // snapshots referenced by a live ref (engine-authored marker or a
    // carried foreign ref not tombstoned) are PROTECTED from expiry —
    // Iceberg's own semantics: a published tag/branch head stays
    // readable regardless of the time window
    val authoredRefs: Map[String, Option[(Long, String)]] =
      md.configuration.get(RefsAuthoredKey).map { js =>
        mapper.readTree(js).fields().asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) None
            else Some((e.getValue.get("snapshot-id").asLong,
              e.getValue.get("type").asText)))
        }.toMap
      }.getOrElse(Map.empty)
    // VACUUM's forced expiry (retainMsOverride) wins over protection:
    // the data files are about to go away, so a surviving ref would
    // DANGLE — the ref drops from the emitted metadata instead (the
    // emission filters to retained snapshots and warns)
    val refProtectedIds: Set[Long] =
      if (retainMsOverride.isDefined) Set.empty
      else {
        val carried = prev.flatMap(p => Option(p.get("refs"))).toSeq
          .flatMap(_.fields().asScala)
          .filter(e => e.getKey != "main" && !authoredRefs.contains(e.getKey))
          .map(_.getValue.get("snapshot-id").asLong)
        (carried ++ authoredRefs.values.flatten.map(_._1)).toSet
      }
    prev.foreach(_.get("snapshots").elements().asScala
      .filter(s => s.get("snapshot-id").asLong != snapshotId &&
        (s.get("timestamp-ms").asLong >= cutoff ||
          refProtectedIds.contains(s.get("snapshot-id").asLong)))
      .foreach(snaps.add))
    val sn = snaps.addObject()
    sn.put("snapshot-id", snapshotId)
    // parent-snapshot-id (spec field): the previous generation's head —
    // ancestry consumers (and our own same-data statistics chain walk,
    // A88) traverse it. A same-version RE-generation keeps the
    // snapshot's original parent; the first snapshot has none.
    prev.foreach { p =>
      val prevHead = p.get("current-snapshot-id").asLong
      val parent: Option[Long] =
        if (prevHead != snapshotId) Some(prevHead)
        else p.get("snapshots").elements().asScala
          .find(_.get("snapshot-id").asLong == snapshotId)
          .flatMap(n => Option(n.get("parent-snapshot-id")).map(_.asLong))
      parent.foreach(sn.put("parent-snapshot-id", _))
    }
    sn.put("sequence-number", seqNum)
    sn.put("timestamp-ms", now)
    // summary.operation from the Delta commit that produced this
    // snapshot: append for pure additions, replace for compaction
    // (rewrites with identical logical content), delete for TRUNCATE,
    // overwrite for everything that can change or remove rows —
    // the conservative bucket an incremental consumer must re-scan
    val ci = log.commitInfoAt(version)
    val deltaOp = ci.map(_.operation).getOrElse(Op.Write)
    val overwriteMode = ci.exists(_.operationParameters.get("mode")
      .exists(_.toLowerCase.contains("overwrite")))
    val icebergOp = deltaOp match {
      case Op.Write | Op.StreamingUpdate if overwriteMode => "overwrite"
      case Op.Write | Op.StreamingUpdate | Op.CopyInto | Op.CreateTable => "append"
      case o if o.startsWith(Op.Optimize) => "replace"
      case Op.Truncate => "delete"
      // property-only commits (ANALYZE's statistics marker, SET/UNSET
      // TBLPROPERTIES) change no data: `replace` is the bucket
      // incremental consumers skip — a mirror re-syncing across an
      // ANALYZE commit gets dataChange=false instead of a full re-scan
      case Op.SetTableProperties | Op.UnsetTableProperties => "replace"
      case _ => "overwrite"
    }
    val sumNode = sn.putObject("summary")
    sumNode.put("operation", icebergOp)
    // which path generated this snapshot: incremental, general or full
    sumNode.put("graft.gen-path", genPath)
    // DV-set fingerprint: the next generation reuses the delete manifest
    // + delete parquet files by reference when this is unchanged
    if (incr.isDefined) {
      // incremental: the DV set is untouched — carry the previous
      // generation's fingerprints forward so a later DML commit still
      // gets whole-set / per-bucket delete reuse against them
      prevDvFp.foreach(fp => sumNode.put("graft.dv-fingerprint", fp))
      prevCurSummary.flatMap(su => Option(su.get("graft.dv-bucket-fps")))
        .foreach(b => sumNode.put("graft.dv-bucket-fps", b.asText))
    } else if (dvFiles.nonEmpty) {
      sumNode.put("graft.dv-fingerprint", dvFingerprint)
      // per-bucket fingerprints: the NEXT generation rewrites only the
      // buckets whose descriptor set changed
      val bfp = mapper.createObjectNode()
      bucketFps.toSeq.sortBy(_._1).foreach { case (b, f) =>
        bfp.put(b.toString, f) }
      sumNode.put("graft.dv-bucket-fps", mapper.writeValueAsString(bfp))
    }
    sn.put("manifest-list", listPath.toString)
    sn.put("schema-id", schemaId)
    // v3: the snapshot's first assigned row id — the smallest baseRowId
    // this Delta version handed out (every file carries an explicit
    // first_row_id, so this is informational per the spec's
    // explicit-assignment allowance); no assignment this commit =
    // the current next-row-id
    if (formatVersion >= 3)
      sn.put("first-row-id", firstRowId.getOrElse(
        RowTracking.highWaterMark(snapshot.domainMetadata) + 1))
    val retainedIds = snaps.elements().asScala.map(_.get("snapshot-id").asLong).toSet
    val slog = root.putArray("snapshot-log")
    prev.foreach(p => Option(p.get("snapshot-log"))
      .foreach(_.elements().asScala
        .filter(e => e.get("snapshot-id").asLong != snapshotId &&
          retainedIds.contains(e.get("snapshot-id").asLong))
        .foreach(slog.add)))
    val sl = slog.addObject()
    sl.put("timestamp-ms", now)
    sl.put("snapshot-id", snapshotId)
    // metadata-log: the previous metadata files, oldest first (the spec's
    // lineage trail). Only files the sweep retains are listed — an entry
    // naming v<id>.metadata.json survives exactly while snapshot <id>
    // does, so readers never chase a swept file.
    val n = version + 1
    val mlog = root.putArray("metadata-log")
    prev.foreach { p =>
      val prevFile = s"v${p.get("current-snapshot-id").asLong}.metadata.json"
      Option(p.get("metadata-log")).foreach(_.elements().asScala
        .filter { e =>
          val f = new Path(e.get("metadata-file").asText).getName
          val id = f.stripPrefix("v").stripSuffix(".metadata.json")
          id.toLongOption.exists(i => retainedIds.contains(i) && i != n)
        }.foreach(mlog.add))
      val prevId = p.get("current-snapshot-id").asLong
      if (retainedIds.contains(prevId) && prevId != n) {
        val e = mlog.addObject()
        e.put("timestamp-ms", p.get("last-updated-ms").asLong)
        e.put("metadata-file", new Path(dir, prevFile).toString)
      }
    }
    // refs (Iceberg spec v2, Table Metadata): `main` tracks the current
    // snapshot (the spec's recommendation; branch-aware readers and our
    // own ref adoption, A87, resolve through it). Foreign refs stamped
    // by an admin/external tool CARRY FORWARD while their snapshot is
    // retained — regeneration must not delete a branch a pinned mirror
    // follows.
    locally {
      val refs = root.putObject("refs")
      // carried foreign refs first (names the marker overrides —
      // including tombstones — excluded), then engine-authored refs,
      // then main tracking the head
      prev.flatMap(p => Option(p.get("refs"))).foreach { pr =>
        pr.fieldNames().asScala
          .filter(nm => nm != "main" && !authoredRefs.contains(nm))
          .foreach { nm =>
            val r = pr.get(nm)
            if (retainedIds.contains(r.get("snapshot-id").asLong))
              refs.set[com.fasterxml.jackson.databind.node.ObjectNode](
                nm, r.deepCopy[JsonNode]())
            else System.err.println(s"WARN graft: Iceberg ref '$nm' " +
              "dropped — its snapshot expired (forced expiry wins over " +
              "ref protection)")
          }
      }
      authoredRefs.foreach {
        case (nm, Some((sid, tpe))) =>
          if (retainedIds.contains(sid))
            refs.putObject(nm).put("snapshot-id", sid).put("type", tpe)
          else System.err.println(s"WARN graft: Iceberg ref '$nm' " +
            "dropped — its snapshot expired (forced expiry wins over " +
            "ref protection)")
        case (_, None) => () // tombstone: carried ref suppressed above
      }
      refs.putObject("main")
        .put("snapshot-id", snapshotId).put("type", "branch")
    }
    // statistics (Iceberg spec: Table Statistics): Puffin NDV files
    // recorded by analyzeNdv ride the config marker; an entry is
    // emitted exactly while the snapshot it was computed at is still
    // retained, so readers never chase statistics of an expired snapshot
    md.configuration.get(StatsMarkerKey).foreach { js =>
      val recorded = mapper.readTree(js)
      // marker element = {"delta-version": N, "entry": {spec entry}} —
      // the wrapper keeps engine-side state (which Delta version the
      // scan covered, for incremental ANALYZE) OUT of the spec entry
      val live = recorded.elements().asScala
        .map(w => Option(w.get("entry")).getOrElse(w)) // legacy bare form
        .filter(e => retainedIds.contains(e.get("snapshot-id").asLong))
        .toList
      if (live.nonEmpty) {
        val stats = root.putArray("statistics")
        live.foreach(stats.add)
      }
    }
    writeAll(fs, new Path(dir, s"v$n.metadata.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
    // MONOTONIC hint: two near-simultaneous post-commit generations race
    // here — a slower OLDER one must not move the Iceberg view backwards
    // past a newer snapshot (its v<N>.metadata.json stays on disk, just
    // not pointed at; the next commit regenerates the full chain anyway)
    val existingHint =
      if (!fs.exists(hintPath)) -1L
      else try new String(readAll(fs, hintPath), StandardCharsets.UTF_8).trim.toLong
      catch { case scala.util.control.NonFatal(_) => -1L }
    if (n > existingHint) {
      writeAll(fs, hintPath, n.toString.getBytes(StandardCharsets.UTF_8))
      // sweep metadata files no retained snapshot references — without
      // this, every commit of a UniForm table leaks a full manifest set.
      // Exact: the keep set is read FROM the retained snapshots
      // (manifest lists -> manifests -> delete-file paths), so losing
      // same-version regenerations and expired snapshots both clean up.
      // Only the hint winner sweeps, and files stamped during/after this
      // generation are spared (a racing newer generation's output).
      // Cost control: nothing becomes unreferenced unless this
      // generation EXPIRED a snapshot or REPLACED a same-version entry,
      // so the O(retained-manifests) driver pass runs only then — plus a
      // periodic full pass (every 10th version) that also collects
      // orphans from crashed generations that never won the hint.
      val prevIdsSet = prev.toSeq.flatMap(_.get("snapshots").elements().asScala
        .map(_.get("snapshot-id").asLong)).toSet
      val droppedAny = prevIdsSet.exists(id => !retainedIds.contains(id))
      val replacedSame = prevIdsSet.contains(snapshotId)
      if (droppedAny || replacedSame || n % 10 == 0)
        try sweepUnreferenced(fs, dir, root, genStart)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"WARN graft: Iceberg metadata sweep failed: ${e.getMessage}")
        }
    }
    n
  }

  /** Delete metadata-dir files not referenced by any snapshot retained
    * in `meta`: keeps each retained snapshot's manifest list, every
    * manifest it names, every position-delete file a deletes manifest
    * names, the retained `v<id>.metadata.json` files, and the hint.
    * Driver cost is O(#manifests of retained snapshots) — bounded by
    * the retention window. Files modified at/after `genStart` are
    * spared (concurrent generation in flight).
    */
  private def sweepUnreferenced(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path, meta: JsonNode, genStart: Long): Unit = {
    val keep = scala.collection.mutable.Set[String]("version-hint.text")
    // statistics files (A88): referenced from the metadata's
    // `statistics` list exactly while their snapshot is retained — the
    // emission already filtered to retained snapshots, so keeping every
    // listed path sweeps expired stats naturally
    Option(meta.get("statistics")).foreach(_.elements().asScala.foreach { e =>
      keep += new Path(e.get("statistics-path").asText).getName
    })
    meta.get("snapshots").elements().asScala.foreach { sn =>
      keep += s"v${sn.get("snapshot-id").asLong}.metadata.json"
      val mlPath = new Path(sn.get("manifest-list").asText)
      keep += mlPath.getName
      val manifests =
        try readList(mlPath, fs.getConf)
        catch { case scala.util.control.NonFatal(_) => Nil }
      manifests.foreach { m =>
        keep += new Path(m.path).getName
        // deletes manifest: its entries name position-delete files that
        // also live under metadata/
        if (m.content == 1)
          try readLive(m, fs.getConf)((_, live) => live.foreach(e =>
            keep += new Path(e.dataFile.get("file_path").toString).getName))
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // recursive: position-delete parquet lives under __bucket=K subdirs
    // since the per-bucket incremental layout (basenames stay unique —
    // every file carries a task UUID)
    val it = fs.listFiles(dir, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      // a ChecksumFileSystem's ".<name>.crc" sidecar lives and dies with
      // its file — keep it exactly when the file itself is kept
      val kept = keep.contains(name) ||
        (name.startsWith(".") && name.endsWith(".crc") &&
          keep.contains(name.stripPrefix(".").stripSuffix(".crc")))
      if (!kept && st.getModificationTime < genStart)
        fs.delete(st.getPath, false)
    }
  }

  // ---- CONVERT FROM ICEBERG (A85): the read side of UniForm -----------

  /** Spark type from an Iceberg schema-JSON type node (the inverse of
    * [[icebergSchema]]'s typeJson).
    */
  private[delta] def sparkTypeOf(t: JsonNode): DataType =
    if (t.isTextual) t.asText match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case "string" => StringType
      case "binary" => BinaryType
      // v3: Spark's variant parquet encoding IS the spec's binary layout,
      // so the adopted files read back without any rewrite
      case "variant" => VariantType
      case d if d.startsWith("decimal(") =>
        val parts = d.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(parts(0), parts(1))
      case other => throw new UnsupportedOperationException(
        s"unsupported Iceberg type '$other'")
    } else t.get("type").asText match {
      case "struct" => StructType(t.get("fields").elements().asScala.map { f =>
        // same read-default refusal as the top-level schema fields —
        // nested structs carry initial-default too
        Option(f.get("initial-default")).filterNot(_.isNull).foreach { d =>
          throw new UnsupportedOperationException(
            s"nested field '${f.get("name").asText}' carries a non-null " +
              s"initial-default ($d); files written before the field " +
              "existed read that default in Iceberg, which this adoption " +
              "cannot honor")
        }
        StructField(f.get("name").asText, sparkTypeOf(f.get("type")),
          nullable = !f.get("required").asBoolean)
      }.toSeq)
      case "list" => ArrayType(sparkTypeOf(t.get("element")),
        containsNull = !Option(t.get("element-required")).exists(_.asBoolean))
      case "map" => MapType(sparkTypeOf(t.get("key")), sparkTypeOf(t.get("value")),
        valueContainsNull = !Option(t.get("value-required")).exists(_.asBoolean))
      case other => throw new UnsupportedOperationException(
        s"unsupported Iceberg complex type '$other'")
    }

  /** One Iceberg single-value bound decoded into a Delta stats-JSON
    * value (inverse of statBound); None when the type has no mapping.
    * Truncated string bounds stay VALID bounds, which is all skipping
    * needs.
    */
  private def putBound(o: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, dt: DataType, bytes: Array[Byte]): Unit = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    dt match {
      case ByteType | ShortType | IntegerType => o.put(name, bb.getInt)
      case LongType => o.put(name, bb.getLong)
      case FloatType => o.put(name, bb.getFloat.toDouble)
      case DoubleType => o.put(name, bb.getDouble)
      case StringType =>
        o.put(name, new String(bytes, StandardCharsets.UTF_8))
      case DateType =>
        o.put(name, java.time.LocalDate.ofEpochDay(bb.getInt.toLong).toString)
      case _ => ()
    }
  }

  /** CONVERT FROM ICEBERG: adopt the table's CURRENT Iceberg snapshot
    * (HadoopTables layout — `metadata/version-hint.text` under the data
    * root) as a graft-Delta table at the SAME location. Metadata-only:
    * AddFiles point at the existing parquet (relative under the root,
    * absolute URIs outside it — the shallow-clone convention), per-file
    * stats are rebuilt from the manifest entries (record counts, null
    * counts, typed bounds — no footer is opened), and POSITION-DELETE
    * files are translated back into Delta deletion vectors (the exact
    * inverse of generate()'s DV export; the protocol upgrade rides the
    * same commit). The scale shape matches CONVERT TO DELTA (A49):
    * manifest entries are read DISTRIBUTED, one task per manifest; the
    * driver holds O(#files) AddFile actions for the single commit.
    *
    * Widened funnel (adoption over refusal): non-identity partition
    * transforms and SPEC-EVOLVED tables adopt with the transform /
    * non-common fields data-only (stats-based skipping keeps working);
    * EQUALITY deletes — with or without name mapping — resolve to
    * deletion vectors. Loud refusals (never a silent misread):
    * format-version > 2, a used spec missing from the metadata,
    * unsupported types.
    */
  /** Table-config key remembering the last adopted/synced Iceberg
    * snapshot id — the re-sync guard and no-op detector.
    */
  private[delta] val SyncMarkerKey = "graft.convert.icebergSnapshotId"

  /** Table-config key remembering the SOURCE root of an out-of-place
    * mirror (`mirrorFromIceberg`): the Delta log lives at the target,
    * every data/delete byte stays under the foreign source. Re-sync
    * reads the source from here, so the caller never re-supplies it.
    */
  private[delta] val SourceMarkerKey = "graft.convert.icebergSource"

  /** Table-config key recording that the INITIAL adoption imported v3
    * row lineage. Re-sync lineage import is gated on this marker, not
    * merely on row tracking being enabled: a table whose row tracking
    * was turned on AFTER a non-lineage adoption has locally-assigned
    * ids from 0, and stamping foreign first_row_ids onto new files
    * could collide with them below the high-water mark.
    */
  private[delta] val LineageMarkerKey = "graft.convert.icebergLineage"

  /** Table-config key holding the JSON array of Iceberg `statistics`
    * entries recorded by [[DeltaTable.analyzeNdv]] — each references a
    * Puffin NDV file for the snapshot it was computed at. The generator
    * emits them into the metadata's `statistics` list while their
    * snapshot stays retained (Iceberg spec: Table Statistics).
    */
  private[delta] val StatsMarkerKey = "graft.iceberg.statistics"

  /** Config-key prefix for NDV values imported from a foreign table's
    * statistics files at adoption — `graft.stats.ndv.<column>`,
    * surfaced by DESCRIBE DETAIL's properties map.
    */
  private[delta] val NdvConfigPrefix = "graft.stats.ndv."

  /** Table-config key holding engine-AUTHORED refs for the generated
    * metadata (JSON object: name → {"snapshot-id", "type"} or null for
    * a tombstone over a carried foreign ref) — see
    * [[DeltaTable.createIcebergRef]]. The generator overlays these on
    * the carried foreign refs; snapshots referenced by any live ref are
    * PROTECTED from retention expiry (a published tag stays adoptable).
    */
  private[delta] val RefsAuthoredKey = "graft.iceberg.refs"

  /** Table-config key pinning a mirror to a NAMED Iceberg ref (branch or
    * tag, the metadata's `refs` map — Iceberg spec v2, Table Metadata).
    * Flink/Trino production tables pin consumers to branches; a mirror
    * adopted with `asOfRef` follows that branch's head on every re-sync
    * instead of `current-snapshot-id`.
    */
  private[delta] val RefMarkerKey = "graft.convert.icebergRef"

  /** `source`: when set (and different from `log.dataPath`), adopt
    * OUT-OF-PLACE — a mirror: the Iceberg metadata is read from
    * `source`, every AddFile records the source parquet by absolute URI
    * (the shallow-clone convention `underTableRoot` exists for), decoded
    * deletion vectors land under the TARGET, and not a single byte is
    * written under the source — the property that makes mirroring a
    * LIVE Flink-owned table safe, where the in-place form would drop
    * `_delta_log`/`_deletion_vectors` into a directory the foreign
    * writer believes it owns.
    */
  def convertFrom(spark: SparkSession, log: DeltaLog,
      asOfSnapshotId: Option[Long] = None,
      source: Option[Path] = None,
      asOfRef: Option[String] = None): Long = {
    // RE-SYNC mode (incremental): an already-adopted table (it carries
    // the SyncMarkerKey) re-reads the Iceberg metadata and commits ONLY
    // the diff — new files as adds, vanished files as removes, changed
    // delete sets as fresh DVs — so a mirrored Flink-written table stays
    // consumable as Delta at O(changed files) per sync. Mirror
    // semantics: the Delta view is made EQUAL to the Iceberg snapshot;
    // Delta-side divergence since the last sync is overwritten.
    val existingSnap: Option[Snapshot] =
      if (!log.tableExists) None
      else {
        val s = log.update()
        require(s.metadata.configuration.contains(SyncMarkerKey),
          s"${log.dataPath} is already a graft-delta table that was NOT " +
            "adopted from Iceberg; refusing to overwrite it with a convert " +
            "— re-sync is only valid for tables created by convertFromIceberg")
        Some(s)
      }
    val hconfRaw = spark.sessionState.newHadoopConf()
    // source root: an out-of-place mirror reads the Iceberg metadata
    // from the foreign source (remembered in the table config on
    // re-sync, so a sync call never has to re-supply it); otherwise the
    // classic in-place adoption reads it from under the table itself
    val srcRoot: Path = existingSnap
      .flatMap(_.metadata.configuration.get(SourceMarkerKey))
      .map { persisted =>
        source.foreach(p => require(
          p.getFileSystem(hconfRaw).makeQualified(p).toString == persisted,
          s"mirror source mismatch: table was mirrored from $persisted, " +
            s"re-sync supplied $p"))
        new Path(persisted)
      }
      .orElse(source)
      .getOrElse(log.dataPath)
    val isMirror =
      srcRoot.getFileSystem(hconfRaw).makeQualified(srcRoot).toString !=
        log.dataPath.getFileSystem(hconfRaw).makeQualified(log.dataPath).toString
    require(!(isMirror && existingSnap.exists(
      !_.metadata.configuration.contains(SourceMarkerKey))),
      s"${log.dataPath} was adopted IN PLACE; re-syncing it from a " +
        s"different source ($srcRoot) would silently retarget the mirror")
    val dir = new Path(srcRoot, "metadata")
    val fs = dir.getFileSystem(hconfRaw)
    val hintPath = new Path(dir, "version-hint.text")
    require(fs.exists(hintPath),
      s"no Iceberg table at $srcRoot (missing metadata/version-hint.text)")
    val hint = new String(readAll(fs, hintPath), StandardCharsets.UTF_8).trim.toLong
    val meta = mapper.readTree(readAll(fs, new Path(dir, s"v$hint.metadata.json")))
    val fv = meta.get("format-version").asInt
    if (fv > 3) throw new UnsupportedOperationException(
      s"unsupported Iceberg format-version $fv (supported: 1, 2, 3)")
    // time travel: adopt ANY retained snapshot (its schema comes from
    // the per-snapshot schema-id, so an evolved table converts with the
    // schema that snapshot was written under). A NAMED REF (branch/tag)
    // resolves through the metadata's `refs` map; a ref-pinned mirror
    // remembers the name and follows that branch's head on re-sync.
    val pinnedRef: Option[String] =
      existingSnap.flatMap(_.metadata.configuration.get(RefMarkerKey))
    asOfRef.foreach { r =>
      pinnedRef.foreach(p => require(p == r,
        s"this mirror is pinned to Iceberg ref '$p'; re-syncing against " +
          s"'$r' would silently retarget it — adopt a separate mirror for " +
          "the other branch"))
      require(asOfSnapshotId.isEmpty,
        "specify at most one of asOfSnapshotId / asOfRef")
    }
    // an explicit snapshot id on a PINNED mirror would retarget it off
    // its branch just as silently — refuse like the foreign-ref case
    // (the next plain re-sync would snap back to the branch head,
    // making the time travel a one-commit wonder)
    asOfSnapshotId.foreach { sid =>
      pinnedRef.foreach(p => require(false,
        s"this mirror is pinned to Iceberg ref '$p'; adopting snapshot " +
          s"$sid by id would silently retarget it — adopt a separate " +
          "(unpinned) mirror for snapshot-level time travel"))
    }
    val effectiveRef = asOfRef.orElse(pinnedRef)
    val curId = asOfSnapshotId.getOrElse(effectiveRef match {
      case Some(r) =>
        val refs = Option(meta.get("refs")).getOrElse(
          throw new IllegalArgumentException(
            s"Iceberg metadata at $srcRoot has no refs map; cannot " +
              s"resolve ref '$r'"))
        Option(refs.get(r)).getOrElse(throw new IllegalArgumentException(
          s"unknown Iceberg ref '$r' (available: " +
            refs.fieldNames().asScala.mkString(", ") + ")"))
          .get("snapshot-id").asLong
      case None => meta.get("current-snapshot-id").asLong
    })
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong == curId).getOrElse(
        throw new IllegalArgumentException(
          s"Iceberg snapshot $curId not retained in metadata (available: " +
            meta.get("snapshots").elements().asScala
              .map(_.get("snapshot-id").asLong).mkString(", ") + ")"))
    // re-sync no-op: the Delta state already mirrors this snapshot
    existingSnap.foreach { s =>
      if (s.metadata.configuration.get(SyncMarkerKey).contains(curId.toString))
        return s.version
    }

    // ---- schema: the snapshot's schema (falling back to current)
    val schemaId = Option(snap.get("schema-id")).map(_.asInt)
      .orElse(Option(meta.get("current-schema-id")).map(_.asInt)).getOrElse(0)
    val schemaNode = Option(meta.get("schemas"))
      .flatMap(_.elements().asScala.find(s =>
        Option(s.get("schema-id")).forall(_.asInt == schemaId)))
      .orElse(Option(meta.get("schema"))) // v1 legacy single-schema field
      .getOrElse(throw new IllegalStateException(s"schema $schemaId not in metadata"))
    // top-level name mapping (physical parquet names per field id) — a
    // UniForm-generated table's footers may carry different names than
    // the logical schema; import them as Delta column mapping
    val physById: Map[Int, String] = Option(meta.get("properties"))
      .flatMap(p => Option(p.get("schema.name-mapping.default")))
      .map(nm => mapper.readTree(nm.asText).elements().asScala.map(e =>
        e.get("field-id").asInt -> e.get("names").get(0).asText).toMap)
      .getOrElse(Map.empty)
    val rawFields: Seq[(Int, StructField)] =
      schemaNode.get("fields").elements().asScala.map { f =>
        val id = f.get("id").asInt
        val dt = sparkTypeOf(f.get("type"))
        // Iceberg v3 defaults (A85 × A64): `write-default` maps onto
        // Delta's writer-side CURRENT_DEFAULT; `initial-default` is a
        // READ-time substitution for files that predate the column —
        // imported as field metadata + per-file missing tags and served
        // by ReadDefaults.fill (translation failures refuse loudly
        // inside sqlLiteral/defaultColumn, never a silent null)
        var fmd = new MetadataBuilder()
        Option(f.get("initial-default")).filterNot(_.isNull).foreach { d =>
          ReadDefaults.sqlLiteral(dt, d.toString) // validate the shape now
          fmd = fmd.putString(ReadDefaults.InitialKey, d.toString)
        }
        Option(f.get("write-default")).filterNot(_.isNull).foreach { d =>
          fmd = fmd.putString(ColumnDefaults.CurrentKey,
            ReadDefaults.sqlLiteral(dt, d.toString))
        }
        (id, StructField(f.get("name").asText, dt,
          nullable = !f.get("required").asBoolean, fmd.build()))
      }.toSeq
    val needsMapping = rawFields.exists { case (id, f) =>
      physById.get(id).exists(_ != f.name)
    }
    val fields = if (!needsMapping) rawFields.map(_._2)
      else rawFields.map { case (id, f) =>
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(ColumnMapping.IdKey, id.toLong)
          .putString(ColumnMapping.PhysicalNameKey,
            physById.getOrElse(id, f.name)).build())
      }
    val schema = StructType(fields)
    val idToField: Map[Int, (String, DataType)] =
      rawFields.map { case (id, f) => id -> (f.name, f.dataType) }.toMap
    // NDV interchange (Iceberg spec: Table Statistics): statistics
    // entries recorded FOR the adopted snapshot carry Puffin theta
    // blobs whose `ndv` property is the planner-facing cardinality —
    // import each as `graft.stats.ndv.<column>` config (DESCRIBE
    // DETAIL surfaces the properties map). Same-DATA only: the adopted
    // snapshot itself, or the nearest ancestor reachable through an
    // unbroken chain of `replace` snapshots (compaction / property-only
    // commits — files may move, rows never change, so the counts still
    // describe exactly this data); any append/overwrite/delete on the
    // way breaks the chain and the stale entry is ignored.
    // Metadata-sized, best-effort — a missing/corrupt file warns, never
    // fails the adoption.
    val ndvConfig: Map[String, String] = {
      val entriesById: Map[Long, JsonNode] =
        Option(meta.get("statistics")).toSeq
          .flatMap(_.elements().asScala)
          .map(e => e.get("snapshot-id").asLong -> e).toMap
      val byId: Map[Long, JsonNode] =
        meta.get("snapshots").elements().asScala
          .map(n => n.get("snapshot-id").asLong -> n).toMap
      @scala.annotation.tailrec
      def statsFor(id: Long): Option[JsonNode] =
        entriesById.get(id) match {
          case found @ Some(_) => found
          case None => byId.get(id) match {
            case Some(n) if Option(n.get("summary"))
              .flatMap(su => Option(su.get("operation")))
              .exists(_.asText == "replace") =>
              Option(n.get("parent-snapshot-id")).map(_.asLong) match {
                case Some(p) => statsFor(p)
                case None => None
              }
            case _ => None
          }
        }
      statsFor(curId).toSeq
        .flatMap { e =>
          val p = new Path(e.get("statistics-path").asText)
          try IcebergPuffin.readStatsBlobs(p, hconfRaw).flatMap {
            case (fid, ndv, _, _) if ndv >= 0 =>
              idToField.get(fid).map { case (nm, _) =>
                NdvConfigPrefix + nm -> ndv.toString }
            case _ => None
          } catch {
            case scala.util.control.NonFatal(ex) =>
              System.err.println(s"WARN graft: skipping statistics file " +
                s"$p: ${ex.getMessage}")
              Nil
          }
        }.toMap
    }
    val baseConfig0: Map[String, String] =
      if (!needsMapping) Map.empty
      else Map("delta.columnMapping.mode" -> "name",
        "delta.columnMapping.maxColumnId" ->
          meta.get("last-column-id").asInt.toString)

    // ---- manifests of the current snapshot
    val manifests = readList(new Path(snap.get("manifest-list").asText), hconfRaw)
    val dataManifests = manifests.filter(_.content == 0)

    // ---- partition specs: identity transforms become Delta partition
    // columns. NON-identity transforms (bucket/truncate/days/… — the
    // Iceberg default idiom) are adopted as DATA-ONLY: the source column
    // stays a regular column, partition pruning on the transform is lost
    // but stats-based skipping survives via the manifest bounds —
    // adoption over refusal. `void` fields are dropped spec fields.
    // SPEC-EVOLVED tables (live data manifests under more than one spec)
    // adopt the INTERSECTION of identity source columns across every used
    // spec AND the default spec (which future syncs write under): only
    // those carry a partition value for every live file; the rest fall
    // back to stats-based skipping. Delta requires one partition schema
    // per table, so this is the widest pruning the log can keep.
    val specId = Option(meta.get("default-spec-id")).map(_.asInt).getOrElse(0)
    val specsById: Map[Int, Seq[JsonNode]] =
      Option(meta.get("partition-specs"))
        .map(_.elements().asScala.map(sp =>
          sp.get("spec-id").asInt ->
            sp.get("fields").elements().asScala.toSeq).toMap)
        .orElse(Option(meta.get("partition-spec"))
          .map(fs0 => Map(specId -> fs0.elements().asScala.toSeq))) // v1 legacy
        .getOrElse(Map(specId -> Nil))
    val usedSpecIds: Set[Int] = dataManifests.map(_.specId).toSet + specId
    usedSpecIds.find(!specsById.contains(_)).foreach(sid =>
      throw new IllegalStateException(
        s"data manifest references partition spec $sid, absent from " +
          "the metadata's partition-specs"))
    // per spec: identity source column -> (spec field/struct name, source id)
    def identityFields(fields: Seq[JsonNode]): Map[String, (String, Int)] =
      fields.flatMap { f =>
        val tr = f.get("transform").asText
        if (tr == "identity")
          idToField.get(f.get("source-id").asInt)
            .map { case (nm, _) =>
              nm -> (f.get("name").asText, f.get("source-id").asInt) }
        else {
          if (tr != "void") System.err.println(
            s"WARN graft: Iceberg partition transform '$tr' on field " +
              s"'${f.get("name").asText}' adopted as data-only — partition " +
              "pruning on it is lost; stats-based skipping still applies")
          None
        }
      }.toMap
    val identityBySpec: Map[Int, Map[String, (String, Int)]] =
      usedSpecIds.map(sid => sid -> identityFields(specsById(sid))).toMap
    // common columns in the DEFAULT spec's field order
    val defaultIdentityOrdered: Seq[String] = specsById(specId).flatMap { f =>
      if (f.get("transform").asText == "identity")
        idToField.get(f.get("source-id").asInt).map(_._1)
      else None
    }
    val commonCols: Seq[String] = defaultIdentityOrdered.filter(nm =>
      identityBySpec.values.forall(_.contains(nm)))
    defaultIdentityOrdered.filterNot(commonCols.contains).foreach(nm =>
      System.err.println(
        s"WARN graft: identity partition column '$nm' is not identity in " +
          "every live partition spec (spec-evolved table) — adopted as " +
          "data-only; stats-based skipping still applies"))
    val partCols: Seq[(String, DataType)] = commonCols.map { nm =>
      nm -> idToField.collectFirst {
        case (_, (n, dt)) if n == nm => dt }.getOrElse(
        throw new IllegalStateException(s"partition column $nm not in schema"))
    }
    // per spec, in common order: (structFieldName, columnName, type) —
    // the manifest partition struct is keyed by the SPEC FIELD name,
    // Delta partitionValues by column
    val partMetaBySpec: Map[Int, Seq[(String, String, DataType)]] =
      identityBySpec.map { case (sid, byCol) =>
        sid -> partCols.map { case (nm, dt) => (byCol(nm)._1, nm, dt) }
      }
    // identity fields DROPPED from the common partition set, per spec:
    // (structName, columnName, type, source field id) — these get
    // pruning-equivalent synthesized stats, and a presence guard against
    // Hive-migrated files that hold the value only in metadata
    val droppedBySpec: Map[Int, Seq[(String, String, DataType, Int)]] =
      identityBySpec.map { case (sid, byCol) =>
        sid -> byCol.collect {
          case (nm, (structNm, srcId)) if !commonCols.contains(nm) =>
            (structNm, nm, idToField(srcId)._2, srcId)
        }.toSeq
      }
    // spec field names per spec id (identity AND transform fields), each
    // paired with its SOURCE COLUMN name — the raw partition-tuple decode
    // both sides of the equality-delete scope rule share: a scoped delete
    // applies iff same spec id + equal tuple. The source-column name is
    // the older-writer fallback key (legacy writers key the partition
    // struct by column, same as the pvs decode above).
    val specFieldNames: Map[Int, Seq[(String, String)]] =
      specsById.map { case (sid, fs) =>
        sid -> fs.map { f =>
          val nm = f.get("name").asText
          val srcCol = Option(f.get("source-id"))
            .flatMap(sid0 => idToField.get(sid0.asInt).map(_._1))
            .getOrElse(nm)
          (nm, srcCol)
        }.toSeq }
    // canonical string form of a raw partition value: binary/fixed values
    // arrive as ByteBuffer / GenericData.Fixed whose toString is
    // content-free — hex-encode them so two DIFFERENT byte tuples never
    // stringify identically (which would over-apply a scoped delete)
    def canonPartValue(v: Any): String = v match {
      case bb: java.nio.ByteBuffer =>
        val d = bb.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a)
        "0x" + a.map("%02x".format(_)).mkString
      case f: org.apache.avro.generic.GenericFixed =>
        "0x" + f.bytes().map("%02x".format(_)).mkString
      case other => other.toString
    }
    // RAW partition tuple of `df` under its spec's `fields` (identity AND
    // transform fields, stringified verbatim) — the identity the
    // equality-delete scope rule compares
    def rawTupleOf(fields: Seq[(String, String)], df: GenericRecord): Map[String, String] = {
      val struct = df.get("partition").asInstanceOf[GenericRecord]
      fields.map { case (nm, colNm) =>
        val v =
          if (struct.getSchema.getField(nm) != null) struct.get(nm)
          else if (struct.getSchema.getField(colNm) != null)
            struct.get(colNm) // older writers key by column
          else null
        nm -> (if (v == null) null else canonPartValue(v))
      }.toMap
    }
    val assumeDroppedPresent = spark.conf.get(
      "spark.graft.convert.assumeDroppedIdentityPresent", "false").toBoolean
    // For files under a spec that identity-partitions a DROPPED column,
    // the manifest's partition value is AUTHORITATIVE in Iceberg — the
    // source column may be physically absent from the file (Hive-layout
    // and UniForm files store it only in the partition tuple) and a
    // conformant reader substitutes the metadata constant. Delta can
    // only do that for table-wide partition columns, so adopting those
    // files data-only would silently read NULLs. Refuse loudly; the
    // override asserts the files carry the source column physically
    // (true for Iceberg-native writers, which derive the tuple FROM the
    // data), and synthesis below then restores pruning-equivalent stats.
    if (!assumeDroppedPresent) {
      val offending = dataManifests.map(_.specId)
        .distinct.filter(sid => droppedBySpec(sid).nonEmpty)
      if (offending.nonEmpty) throw new UnsupportedOperationException(
        s"spec evolution drops identity partition column(s) " +
          offending.flatMap(sid => droppedBySpec(sid).map(_._2)).distinct
            .mkString("[", ", ", "]") +
          " from the adoptable common set; their manifest partition " +
          "values are authoritative and the data files may not carry " +
          "the column physically — adopting them data-only could " +
          "silently read NULLs. Set spark.graft.convert." +
          "assumeDroppedIdentityPresent=true only if the files are " +
          "known to carry the source column (Iceberg-native writers do)")
    }
    val now = log.clock.nowMillis
    val qualifiedRoot = fs.makeQualified(log.dataPath)
    val rootStr = qualifiedRoot.toString
    val serConf = new SerializableHadoopConf(hconfRaw)
    val statsFields: Seq[(Int, String, DataType)] =
      idToField.toSeq.map { case (id, (nm, dt)) => (id, nm, dt) }

    // fields with an initial-default: (field id, logical name, parquet
    // footer name). When non-empty, the per-file decode below opens each
    // data file's FOOTER (distributed, one small read per file, only for
    // tables that declare defaults) to record which files physically
    // lack the column — the per-file knowledge ReadDefaults.fill needs.
    val initialDefaulted: Seq[(Int, String, String)] = rawFields.collect {
      case (id, f) if f.metadata.contains(ReadDefaults.InitialKey) =>
        (id, f.name, physById.getOrElse(id, f.name))
    }
    // ---- data-manifest entries: DISTRIBUTED, one task per manifest
    // (the per-file SEQUENCE NUMBER rides along: equality deletes apply
    // only to strictly-older files). The rows stay an RDD — cached, NOT
    // collected: the AddFiles are the commit's Dataset body, so a
    // 10^7-file adoption never materializes
    // O(#files) stats JSON on the driver. The trailing element is the
    // ReadDefaults missing-columns JSON (null when none).
    val fileRows: org.apache.spark.rdd.RDD[(String, Map[String, String], Long, Long, String, Long, Option[Long], Int, Map[String, String], String)] =
      spark.sparkContext
        .parallelize(dataManifests, math.max(1, dataManifests.size))
        .flatMap { m =>
          val manSpecId = m.specId
          val partMeta = partMetaBySpec(manSpecId)
          val statsMapper = new ObjectMapper()
          readLive(m, serConf.value)((_, live) => live.map { e =>
            val df = e.dataFile
            require(fieldOf(df, "content").forall(_.asInstanceOf[Int] == 0),
              s"non-data file in data manifest ${m.path}")
            val pvs: Map[String, String] = {
              val struct = df.get("partition").asInstanceOf[GenericRecord]
              partMeta.map { case (structNm, colNm, dt) =>
                val v =
                  if (struct.getSchema.getField(structNm) != null)
                    struct.get(structNm)
                  else struct.get(colNm) // older writers key by column
                colNm -> partValueString(dt, v)
              }.toMap
            }
            def kv(field: String): Map[Int, Any] =
              Option(df.get(field)).map(_
                .asInstanceOf[java.util.Collection[GenericRecord]]
                .iterator().asScala.map(r2 =>
                  r2.get("key").asInstanceOf[Int] -> r2.get("value")).toMap)
                .getOrElse(Map.empty)
            // rebuild the Delta stats JSON from the manifest's column
            // stats — data skipping survives the conversion without
            // opening a single footer
            val st = statsMapper.createObjectNode()
            st.put("numRecords", df.get("record_count").asInstanceOf[Long])
            val lows = kv("lower_bounds"); val highs = kv("upper_bounds")
            val nulls = kv("null_value_counts")
            if (lows.nonEmpty) {
              val o = st.putObject("minValues")
              statsFields.foreach { case (id, nm, dt) =>
                lows.get(id).foreach(b => putBound(o, nm, dt, bytesOf(b))) }
            }
            if (highs.nonEmpty) {
              val o = st.putObject("maxValues")
              statsFields.foreach { case (id, nm, dt) =>
                highs.get(id).foreach(b => putBound(o, nm, dt, bytesOf(b))) }
            }
            if (nulls.nonEmpty) {
              val o = st.putObject("nullCount")
              statsFields.foreach { case (id, nm, _) =>
                nulls.get(id).foreach(v =>
                  o.put(nm, v.asInstanceOf[Long])) }
            }
            // spec-evolved adoption (under the documented override):
            // identity fields dropped from the common partition set
            // keep PRUNING-EQUIVALENT skipping — an identity-
            // partitioned file holds exactly one value of the source
            // column, so when the writer recorded no bounds min=max is
            // synthesized from the partition struct.
            val dropped = droppedBySpec(manSpecId)
            if (dropped.nonEmpty) {
              val struct = df.get("partition").asInstanceOf[GenericRecord]
              def node(name: String) = Option(st.get(name))
                .map(_.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
                .getOrElse(st.putObject(name))
              def putVal(o: com.fasterxml.jackson.databind.node.ObjectNode,
                  nm: String, dt: DataType, v: Any): Unit = dt match {
                case ByteType | ShortType | IntegerType =>
                  o.put(nm, v.asInstanceOf[Int])
                case LongType => o.put(nm, v.asInstanceOf[Long])
                case FloatType => o.put(nm, v.asInstanceOf[Float].toDouble)
                case DoubleType => o.put(nm, v.asInstanceOf[Double])
                case StringType => o.put(nm, v.toString)
                case DateType => o.put(nm, java.time.LocalDate
                  .ofEpochDay(v.asInstanceOf[Int].toLong).toString)
                case _ => ()
              }
              dropped.foreach { case (structNm, colNm, dt, fid) =>
                if (!lows.contains(fid)) {
                  val v =
                    if (struct.getSchema.getField(structNm) != null)
                      struct.get(structNm)
                    else struct.get(colNm)
                  if (v != null) {
                    putVal(node("minValues"), colNm, dt, v)
                    putVal(node("maxValues"), colNm, dt, v)
                    if (!nulls.contains(fid)) node("nullCount").put(colNm, 0L)
                  } else node("nullCount").put(colNm,
                    df.get("record_count").asInstanceOf[Long])
                }
              }
            }
            val rawTuple = rawTupleOf(specFieldNames.getOrElse(manSpecId, Nil), df)
            // initial-defaults: which defaulted columns does this file
            // physically lack? Decided from the parquet FOOTER (field
            // id first, writer name fallback) — the authoritative
            // per-file rule Iceberg readers apply
            val missingJson: String =
              if (initialDefaulted.isEmpty) null
              else {
                val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
                  org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                    new Path(df.get("file_path").toString), serConf.value))
                val absent =
                  try {
                    val sch = rdr.getFooter.getFileMetaData.getSchema
                    val fs0 = sch.getFields.asScala
                    // name fallback ONLY for footers without field ids
                    // (legacy writers): when ids are present, a name
                    // match with a DIFFERENT id is a dropped-and-
                    // re-added column whose old values must NOT
                    // resurrect over the new field's default
                    val footerHasIds = fs0.exists(t => t.getId != null)
                    initialDefaulted.filterNot { case (fid, _, footerNm) =>
                      if (footerHasIds)
                        fs0.exists(t =>
                          Option(t.getId).exists(_.intValue == fid))
                      else fs0.exists(_.getName == footerNm)
                    }.map(_._3) // PHYSICAL name: stable across renames
                  } finally rdr.close()
                if (absent.isEmpty) null
                else {
                  val arr = statsMapper.createArrayNode()
                  absent.foreach(arr.add)
                  statsMapper.writeValueAsString(arr)
                }
              }
            (df.get("file_path").toString, pvs,
              df.get("file_size_in_bytes").asInstanceOf[Long],
              df.get("record_count").asInstanceOf[Long],
              statsMapper.writeValueAsString(st), e.seq,
              // v3 row lineage: the file's explicit first_row_id (null
              // on v1/v2 manifests, or when the writer relied on
              // inherited assignment)
              fieldOf(df, "first_row_id").map(_.asInstanceOf[Long]),
              manSpecId, rawTuple, missingJson)
          }.toList)
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fileCount = fileRows.count()
    require(fileCount > 0, s"Iceberg snapshot $curId lists no data files")

    // ---- Iceberg v3 row lineage -> Delta row tracking (the inverse of
    // generate()'s export): every data file's EXPLICIT first_row_id
    // becomes its AddFile baseRowId, and the metadata's next-row-id
    // seeds the row-id high-water mark — adopted rows keep their ids
    // across the migration, and post-convert DML assigns fresh ids
    // ABOVE the imported mark instead of colliding from 0. A file with
    // a null first_row_id would need the spec's inherited assignment
    // (manifest-list accumulation, which no writer in scope emits) —
    // fall back loudly to fresh assignment rather than guess. Re-sync
    // imports lineage only onto a table whose INITIAL adoption imported
    // lineage (the persisted LineageMarkerKey) — row tracking merely
    // being enabled is not enough: locally-assigned ids from 0 could
    // collide with foreign first_row_ids below the high-water mark.
    val nextRowIdMeta: Option[Long] =
      Option(meta.get("next-row-id")).filterNot(_.isNull).map(_.asLong)
    val lineageImport: Boolean = fv >= 3 && nextRowIdMeta.isDefined && {
      val missing = fileRows.filter(_._7.isEmpty).count()
      if (missing > 0) System.err.println(
        s"WARN graft: $missing v3 data file(s) lack an explicit " +
          "first_row_id (inherited assignment); adopting WITHOUT " +
          "row-lineage import — row tracking would assign fresh ids")
      missing == 0
    } && (existingSnap match {
      case Some(s) =>
        s.metadata.configuration.get(LineageMarkerKey).contains("true")
      case None => true
    })

    // ---- deletes -> deletion vectors. POSITION deletes are the exact
    // inverse of generate()'s export: (file_path, pos) rows straight
    // into bitmaps. EQUALITY deletes (the Flink-CDC-written shape) are
    // RESOLVED to positions first: one distributed join of the delete
    // rows against the data files' equality columns + row indexes,
    // null-safe (<=> — Iceberg equality semantics treat NULL as a
    // match), applied only to files with STRICTLY OLDER sequence
    // numbers than the delete (the spec's apply rule).
    // Per the spec, a delete file under a PARTITIONED spec applies only
    // to data files of the SAME spec id with an EQUAL partition tuple
    // (an unpartitioned delete spec is global). Matching the raw tuples
    // handles identity AND transform fields alike — a bucket(N)-scoped
    // Flink-CDC delete (the default Flink table layout) restricts to
    // its bucket's files with no value decoding at all, and a scope on
    // an identity column that spec evolution dropped from the adopted
    // partition set still applies faithfully (the tuples live in the
    // manifests regardless of what Delta adopted as partition columns).
    def deleteScope(sid: Int, df: GenericRecord): Option[Map[String, String]] = {
      val fields = specFieldNames.getOrElse(sid,
        throw new IllegalStateException(
          s"delete manifest references partition spec $sid, absent from " +
            "the metadata's partition-specs"))
      if (fields.isEmpty) None // unpartitioned delete spec = global
      else Some(rawTupleOf(fields, df))
    }
    case class DelEntry(path: String, content: Int, eqIds: Seq[Int],
        seq: Long, bytes: Long, specId: Int,
        scope: Option[Map[String, String]],
        refFile: Option[String], blobOff: Option[Long], blobLen: Option[Long],
        cardinality: Long)
    val deleteEntries: Seq[DelEntry] =
      manifests.filter(_.content == 1).flatMap(m => readLive(m, hconfRaw)((_, live) =>
        live.map { e =>
          val df = e.dataFile
          val content = df.get("content").asInstanceOf[Int]
          val eqIds = fieldOf(df, "equality_ids")
            .map(_.asInstanceOf[java.util.Collection[Any]]
              .iterator().asScala.map(_.asInstanceOf[Int]).toSeq)
            .getOrElse(Nil)
          // v3 deletion vectors ride a position-delete entry with
          // referenced_data_file/content_offset/content_size_in_bytes
          // (field ids 143/144/145) pointing into a Puffin file
          DelEntry(df.get("file_path").toString, content, eqIds, e.seq,
            df.get("file_size_in_bytes").asInstanceOf[Long], m.specId,
            if (content == 2) deleteScope(m.specId, df) else None,
            fieldOf(df, "referenced_data_file").map(_.toString),
            fieldOf(df, "content_offset").map(_.asInstanceOf[Long]),
            fieldOf(df, "content_size_in_bytes").map(_.asInstanceOf[Long]),
            df.get("record_count").asInstanceOf[Long])
        }.toList))
    val posDeleteFiles = deleteEntries
      .collect { case d if d.content == 1 && d.refFile.isEmpty => d.path }
    val eqDeleteFiles = deleteEntries
      .collect { case d if d.content == 2 =>
        (d.path, d.eqIds, d.seq, d.bytes, d.specId, d.scope) }
    // ---- v3 deletion vectors (Puffin blobs). The blob body is
    // byte-identical to a framed Delta DV payload entry, so when DVs are
    // the snapshot's ONLY delete shape the adoption is ZERO-COPY: the
    // AddFile descriptor points straight into the Puffin file
    // (storageType "p", offset = blob start, sizeInBytes = blob length
    // minus the 8 framing bytes) and no delete byte is read at convert
    // time. Any other coexisting shape (or a blob offset past Int range)
    // falls back to the decode path, where blobs are read DISTRIBUTED
    // into (fp, ri) rows like every other delete source.
    val dvEntries = deleteEntries.filter(d => d.content == 1 && d.refFile.isDefined)
    dvEntries.groupBy(d => d.refFile.get).foreach { case (rf, ds) =>
      require(ds.size == 1,
        s"data file $rf carries ${ds.size} deletion vectors in snapshot " +
          s"$curId — the Iceberg spec allows at most one")
    }
    val dvOffsetsFit = dvEntries.forall(d =>
      d.blobOff.exists(o => o <= Int.MaxValue.toLong) &&
        d.blobLen.exists(l => l - 8 <= Int.MaxValue.toLong && l >= 8))
    val dvZeroByFp: Map[String, DeletionVectorDescriptor] =
      if (!dvOffsetsFit) Map.empty
      else dvEntries.map { d =>
        d.refFile.get.replaceFirst("^file:/+", "/") ->
          DeletionVectorDescriptor("p", d.path, Some(d.blobOff.get.toInt),
            (d.blobLen.get - 8).toInt, d.cardinality)
      }.toMap
    val pureDvDeletes = dvEntries.nonEmpty && posDeleteFiles.isEmpty &&
      eqDeleteFiles.isEmpty && dvOffsetsFit
    val dvRows: Option[DataFrame] =
      if (dvEntries.isEmpty || (pureDvDeletes && existingSnap.isEmpty)) None
      else {
        import spark.implicits._
        Some(spark.createDataset(dvEntries.map(d =>
            (d.path, d.blobOff.getOrElse(throw new IllegalStateException(
              s"DV entry ${d.path} lacks content_offset")),
              d.blobLen.get, d.refFile.get.replaceFirst("^file:/+", "/"))))
          .repartition(math.min(dvEntries.size, 32))
          .flatMap { case (pp, off, len, fp) =>
            IcebergPuffin.readDvBitmap(new Path(pp), serConf.value, off, len)
              .values.map(ri => (fp, ri))
          }.toDF("fp", "ri"))
      }
    val posRows: Option[DataFrame] =
      if (posDeleteFiles.isEmpty) None
      else Some(spark.read.parquet(posDeleteFiles: _*)
        .select(DeletionVectors.normFp(col("file_path")).as("fp"),
          col("pos").cast("long").as("ri")))
    val eqRows: Option[DataFrame] =
      if (eqDeleteFiles.isEmpty) None
      else {
        // one scan of the older data files (with row indexes) per distinct
        // equality-column set, joined against that set's delete rows.
        // O(#files) (path, seq) pairs on the driver — the scan needs the
        // path list anyway; the heavy stats rows stay distributed. Under
        // NAME MAPPING the data files carry the mapped (physical) parquet
        // names — the resolver selects physical AS logical on the scan.
        val dataFileSeqs: Seq[(String, Long, Int, Map[String, String])] =
          fileRows.map(r0 => (r0._1, r0._6, r0._8, r0._9)).collect().toSeq
        val physOf: Map[String, String] =
          if (!needsMapping) Map.empty
          else rawFields.map { case (id, f) =>
            f.name -> physById.getOrElse(id, f.name) }.toMap
        // one resolution per distinct (equality-column set, spec id,
        // partition tuple): a scoped delete only ever joins against the
        // SAME spec's files with an EQUAL raw tuple (the spec's apply
        // rule — identity and bucket/truncate/days scopes alike), a
        // global one against everything; the scan restriction composes
        // with the strictly-older-sequence pruning inside the resolver
        val byIdsScope = eqDeleteFiles.groupBy(f => (f._2, f._5, f._6))
        val frames = byIdsScope.map { case ((ids, dSpec, scope), files) =>
          require(ids.nonEmpty, "equality delete without equality_ids")
          val eqCols = ids.map(id => idToField.getOrElse(id,
            throw new IllegalStateException(
              s"equality field id $id not in schema"))._1)
          val inScope = scope match {
            case None => dataFileSeqs.map(f => (f._1, f._2))
            case Some(t) => dataFileSeqs.collect {
              case (fp, sq, fSpec, fTuple) if fSpec == dSpec && fTuple == t =>
                (fp, sq)
            }
          }
          equalityDeleteRows(spark, eqCols,
            files.map(f => (f._1, f._3)), files.map(_._4).sum, inScope,
            physOf)
        }
        Some(frames.reduce(_ unionByName _))
      }
    val allDeleteRows: Option[DataFrame] = Seq(posRows, eqRows, dvRows).flatten match {
      case Nil => None
      case one :: Nil => Some(one)
      case many => Some(many.reduce(_ unionByName _).distinct())
    }
    def emptyFpRi: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("fp", StringType), StructField("ri", LongType))))
    // RE-SYNC: only files whose DELETE SET actually changed get a fresh
    // DV payload — the existing DVs are decoded distributed and diffed
    // row-exact against the translated delete rows, so an append-only
    // Iceberg commit re-encodes zero bitmaps. changedDvFps is O(#changed
    // DV'd files) on the driver (normalized paths).
    val changedDvFps: Set[String] = existingSnap match {
      case None => Set.empty // fresh adoption: everything is new
      case Some(s) =>
        import org.apache.spark.sql.functions.{lit, sum}
        val oldRows = DeletionVectors.rowsDF(spark, log.dataPath, s.dvFiles)
          .getOrElse(emptyFpRi)
        val newRows = allDeleteRows.getOrElse(emptyFpRi)
        newRows.withColumn("side", lit(1))
          .unionByName(oldRows.withColumn("side", lit(-1)))
          .groupBy(col("fp"), col("ri")).agg(sum(col("side")).as("s"))
          .where(col("s") =!= 0)
          .select(col("fp")).distinct().as[String](
            org.apache.spark.sql.Encoders.STRING).collect().toSet
    }
    val dvByFp: Map[String, DeletionVectorDescriptor] = existingSnap match {
      case None if pureDvDeletes => dvZeroByFp // zero-copy: no delete bytes read
      case None =>
        allDeleteRows.map(rows =>
          DeletionVectors.write(spark, log.dataPath, rows)).getOrElse(Map.empty)
      case Some(_) if changedDvFps.isEmpty => Map.empty
      case Some(_) if pureDvDeletes =>
        // zero-copy re-sync: a changed file re-attaches a descriptor
        // pointing straight into the new snapshot's Puffin blob (the
        // diff above decoded blobs read-only; nothing is re-encoded);
        // a changed file whose DV vanished is re-added clean
        changedDvFps.toSeq.flatMap(fp => dvZeroByFp.get(fp).map(fp -> _)).toMap
      case Some(_) =>
        val changedDF = spark.createDataset(changedDvFps.toSeq)(
          org.apache.spark.sql.Encoders.STRING).toDF("fp")
        DeletionVectors.write(spark, log.dataPath,
          allDeleteRows.getOrElse(emptyFpRi)
            .join(changedDF, Seq("fp"), "leftsemi"))
    }

    // ---- AddFiles, built ON EXECUTORS: relative under the root,
    // absolute URIs outside it; the DV map (O(#DV'd files), the DML
    // contract) rides as a broadcast
    import spark.implicits._
    val rootStrForAdds = qualifiedRoot.toString
    val rootUriPath = qualifiedRoot.toUri.getPath
    val dvB = spark.sparkContext.broadcast(dvByFp)
    val nowForAdds = now
    val lineageForAdds = lineageImport
    val addsDS = spark.createDataset(fileRows)
      .map { case (abs, pvs, size, _, stats, _, frid, _, _, missing) =>
        val root = new Path(rootStrForAdds)
        val rel = FileNames.underTableRoot(root, abs)
          .filter(_ != rootUriPath)
          .map(p => p.substring(rootUriPath.length + 1))
        val dv = dvB.value.get(abs.replaceFirst("^file:/+", "/")).orNull
        AddFile(
          path = rel.map(FileNames.encodeRelative).getOrElse(abs),
          partitionValues = pvs,
          size = size,
          modificationTime = nowForAdds,
          dataChange = true,
          stats = stats,
          tags = if (missing == null) null
            else Map(ReadDefaults.MissingTag -> missing),
          deletionVector = dv,
          // v3 lineage: the Iceberg first_row_id IS the baseRowId; the
          // commit stamps defaultRowCommitVersion per attempt
          baseRowId = if (lineageForAdds) frid else None)
      }
    // the imported high-water mark: rows keep their ids, and the NEXT
    // fresh assignment starts where the Iceberg writer would have
    val lineageDomain: Seq[Action] =
      if (!lineageImport) Nil
      else Seq(DomainMetadata(RowTracking.Domain,
        RowTracking.configJson(nextRowIdMeta.get - 1)))

    val committed = existingSnap match {
      case None =>
        // ---- the fresh CONVERT commit. Protocol features ride the
        // sanctioned `delta.feature.<name>=supported` request keys
        // (absorbed and stripped by the commit). A v2 merge-on-read
        // Iceberg table stays merge-on-read as Delta: stamping
        // delta.enableDeletionVectors keeps future DML producing DVs
        // (readers honor attached DVs regardless — descriptor-gated).
        val baseConfig = baseConfig0 ++
          ndvConfig ++
          Map(SyncMarkerKey -> curId.toString) ++
          asOfRef.map(r => RefMarkerKey -> r).toMap ++
          (if (isMirror) Map(SourceMarkerKey ->
            fs.makeQualified(srcRoot).toString)
           else Map.empty) ++
          (if (dvByFp.nonEmpty) Map(
            "delta.enableDeletionVectors" -> "true",
            "delta.feature.deletionVectors" -> "supported")
           else Map.empty) ++
          (if (needsMapping) Map("delta.feature.columnMapping" -> "supported")
           else Map.empty) ++
          (if (lineageImport) Map(
            "delta.enableRowTracking" -> "true",
            LineageMarkerKey -> "true")
           else Map.empty) ++
          // v3 defaults: write-default -> A64 writer feature;
          // initial-default -> the per-file read-fill READER feature, so
          // a client that would silently null-fill refuses loudly
          (if (schema.fields.exists(_.metadata.contains(ColumnDefaults.CurrentKey)))
            Map(s"delta.feature.${ColumnDefaults.FeatureName}" -> "supported")
           else Map.empty) ++
          (if (initialDefaulted.nonEmpty)
            Map(s"delta.feature.${ReadDefaults.FeatureName}" -> "supported")
           else Map.empty)
        val txn = log.startTransaction()
        txn.updateMetadata(graft.delta.Metadata(
          schemaString = schema.json,
          partitionColumns = partCols.map(_._1),
          configuration = baseConfig,
          createdTime = Some(now)))
        val opParams = Map(
          "numFiles" -> fileCount.toString,
          "sourceFormat" -> "iceberg",
          "icebergSnapshotId" -> curId.toString)
        // the AddFiles are the commit's Dataset body (A29's contract): a
        // 10^7-file adoption with ~1 KB stats JSON each never holds
        // ~10 GB of actions on the driver
        txn.commit(lineageDomain, addsDS.map(_.wrap), Op.Convert, opParams)

      case Some(s) =>
        // ---- RE-SYNC diff commit: the Delta view becomes EQUAL to the
        // Iceberg snapshot at O(changed files) driver state — new files
        // as adds, vanished files as removes (the RESTORE anti-join
        // shape), DV-changed files as remove + re-add with the fresh
        // descriptor.
        require(s.metadata.partitionColumns == partCols.map(_._1),
          s"cannot re-sync: partition columns changed from " +
            s"${s.metadata.partitionColumns.mkString(",")} to " +
            s"${partCols.map(_._1).mkString(",")}")
        // mapping parity: a snapshot that newly requires column mapping
        // (or stops requiring it) cannot be mirrored onto the adopted
        // table's existing files — the schema update would rebind how
        // parquet columns resolve. Refuse loudly rather than misread.
        val prevMapped = s.metadata.configuration
          .get("delta.columnMapping.mode").exists(_ != "none")
        require(needsMapping == prevMapped,
          "cannot re-sync: the snapshot's column-mapping requirement " +
            s"changed (adopted table mapped=$prevMapped, snapshot needs " +
            s"mapping=$needsMapping); re-adopt from scratch instead")
        // a pure-maintenance chain — every foreign snapshot since the
        // last sync carries summary operation `replace` (Iceberg's
        // compaction/rewrite op: files change, data never does) —
        // commits with dataChange=false, Delta OPTIMIZE semantics: CDF
        // readers and incremental streams skip the churn instead of
        // replaying a whole-table delete+insert that cancels out. Any
        // other operation (or an expired chain) stays dataChange=true.
        val prevSyncId = s.metadata.configuration(SyncMarkerKey).toLong
        val snapById = meta.get("snapshots").elements().asScala.map(n =>
          n.get("snapshot-id").asLong -> n).toMap
        @scala.annotation.tailrec
        def chainAllReplace(id: Long): Boolean =
          if (id == prevSyncId) true
          else snapById.get(id) match {
            case None => false // chain expired from metadata — conservative
            case Some(n) =>
              val isReplace = Option(n.get("summary"))
                .flatMap(su => Option(su.get("operation")))
                .exists(_.asText == "replace")
              val parent = Option(n.get("parent-snapshot-id")).map(_.asLong)
              if (!isReplace || parent.isEmpty) false
              else chainAllReplace(parent.get)
          }
        val dataChg = !chainAllReplace(curId)
        val rootForKey = log.dataPath.toString
        val deltaState = s.allFilesDS
          .map(a => (FileNames.absolutePathString(new Path(rootForKey), a.path), a))
          .toDF("fp", "add")
        val iceDF = spark.createDataset(fileRows)
          .toDF("fp", "pvs", "size", "rc", "stats", "seq", "frid",
            "specid", "ptuple", "missing")
        val newFilesDS = iceDF.join(deltaState, Seq("fp"), "left_anti")
          .select(col("fp"), col("pvs"), col("size"), col("stats"),
            col("frid"), col("missing"))
          .as[(String, Map[String, String], Long, String, Option[Long], Option[String])]
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val goneDS = deltaState.join(iceDF, Seq("fp"), "left_anti")
          .select(col("add.*")).as[AddFile]
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val commonChangedDS:
            org.apache.spark.sql.Dataset[(AddFile, String, Map[String, String], Long, String, Option[String])] = {
          val joined = deltaState.join(iceDF, Seq("fp"))
          val dvChanged =
            if (changedDvFps.isEmpty) joined.limit(0)
            else {
              val changedDF = spark.createDataset(changedDvFps.toSeq)(
                org.apache.spark.sql.Encoders.STRING).toDF("fpn")
              joined
                .withColumn("fpn", org.apache.spark.sql.functions
                  .regexp_replace(col("fp"), "^file:/+", "/"))
                .join(changedDF, Seq("fpn"), "leftsemi")
                .drop("fpn")
            }
          // a schema evolved between syncs can ADD an initial-default
          // column: files already in the Delta state must re-add with
          // the freshly computed missing-columns tag, or their
          // pre-evolution rows silently read null instead of the default
          val tagChanged = joined.filter(
            !(org.apache.spark.sql.functions.element_at(
              col("add.tags"), ReadDefaults.MissingTag) <=> col("missing")))
          dvChanged.unionByName(tagChanged).dropDuplicates("fp")
            .select(col("add"), col("fp"), col("pvs"), col("size"),
              col("stats"), col("missing"))
            .as[(AddFile, String, Map[String, String], Long, String, Option[String])]
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }
        val (nNew, nGone, nChanged) =
          (newFilesDS.count(), goneDS.count(), commonChangedDS.count())
        // `base`/`dcv`: a NEW foreign file carries its Iceberg
        // first_row_id (version stamped at commit); a DV-changed re-add
        // PRESERVES the existing file's identity — the rows are
        // unchanged, only the mask moved
        def mkAdd(abs: String, pvs: Map[String, String], size: Long,
            stats: String, base: Option[Long],
            dcv: Option[Long],
            tags: Map[String, String] = null): AddFile = {
          val root = new Path(rootStrForAdds)
          val rel = FileNames.underTableRoot(root, abs)
            .filter(_ != rootUriPath)
            .map(p => p.substring(rootUriPath.length + 1))
          AddFile(
            path = rel.map(FileNames.encodeRelative).getOrElse(abs),
            partitionValues = pvs, size = size, modificationTime = now,
            dataChange = dataChg, stats = stats,
            tags = tags,
            deletionVector = dvB.value
              .get(abs.replaceFirst("^file:/+", "/")).orNull,
            baseRowId = base, defaultRowCommitVersion = dcv)
        }
        def mkRemove(a: AddFile): RemoveFile =
          RemoveFile(a.path, Some(now), dataChange = dataChg,
            extendedFileMetadata = true, partitionValues = a.partitionValues,
            size = Some(a.size), deletionVector = a.deletionVector)
        // re-adds refresh the ReadDefaults tag against the NEW schema's
        // footer check; every other tag rides along unchanged
        def retag(tags: Map[String, String],
            missing: Option[String]): Map[String, String] = {
          val out = (Option(tags).getOrElse(Map.empty) -
            ReadDefaults.MissingTag) ++
            missing.map(ReadDefaults.MissingTag -> _)
          if (out.isEmpty) null else out
        }
        val txn = log.startTransaction()
        // advance the marker (and the schema, which may have evolved
        // between snapshots — partition columns are pinned equal above)
        // prior ndv keys are stripped first: when the statistics chain
        // broke (data changed since the analyzed snapshot), serving the
        // stale cardinalities would be silently wrong
        txn.updateMetadata(s.metadata.copy(
          schemaString = schema.json,
          configuration = s.metadata.configuration
            .filterNot(_._1.startsWith(NdvConfigPrefix)) ++
            ndvConfig +
            (SyncMarkerKey -> curId.toString) ++
            asOfRef.map(r => RefMarkerKey -> r) ++
            // defaults can arrive BETWEEN syncs (schema evolution on the
            // foreign side): the feature keys must ride the sync commit
            // exactly like the fresh adoption's baseConfig
            (if (schema.fields.exists(_.metadata.contains(ColumnDefaults.CurrentKey)))
              Map(s"delta.feature.${ColumnDefaults.FeatureName}" -> "supported")
             else Map.empty) ++
            (if (schema.fields.exists(_.metadata.contains(ReadDefaults.InitialKey)))
              Map(s"delta.feature.${ReadDefaults.FeatureName}" -> "supported")
             else Map.empty)))
        val syncParams = Map(
          "sourceFormat" -> "iceberg", "sync" -> "true",
          "icebergSnapshotId" -> curId.toString,
          "numAddedFiles" -> (nNew + nChanged).toString,
          "numRemovedFiles" -> (nGone + nChanged).toString)
        // lineage: advance the high-water mark to the snapshot's
        // next-row-id (never backwards — Iceberg's assignment is
        // monotonic, but a foreign writer that lost ids must not lower
        // the local mark)
        val syncLineageDomain: Seq[Action] =
          if (!lineageImport) Nil
          else {
            val hwm0 = RowTracking.highWaterMark(s.domainMetadata)
            val newHwm = math.max(hwm0, nextRowIdMeta.get - 1)
            if (newHwm > hwm0)
              Seq(DomainMetadata(RowTracking.Domain,
                RowTracking.configJson(newHwm)))
            else Nil
          }
        val newFileBase: Option[Long] => Option[Long] =
          frid => if (lineageImport) frid else None
        // same bounded-driver contract as the fresh adoption: the diff
        // (a first sync after a foreign backfill, a compaction rewriting
        // the table) is the commit's Dataset body, never O(changed files)
        // of action objects on the driver
        val v = txn.commit(syncLineageDomain,
          goneDS.map(a => mkRemove(a).wrap)
            .union(commonChangedDS.flatMap { case (a, abs, pvs, size, stats, missing) =>
              Seq(mkRemove(a).wrap, mkAdd(abs, pvs, size, stats, a.baseRowId,
                a.defaultRowCommitVersion, retag(a.tags, missing)).wrap)
            })
            .union(newFilesDS.map { case (abs, pvs, size, stats, frid, missing) =>
              mkAdd(abs, pvs, size, stats, newFileBase(frid), None,
                missing.map(m => Map(ReadDefaults.MissingTag -> m)).orNull).wrap
            }),
          Op.Convert, syncParams)
        newFilesDS.unpersist()
        goneDS.unpersist()
        commonChangedDS.unpersist()
        v
    }
    fileRows.unpersist()
    committed
  }

  /** Resolve one equality-column set's delete rows to (file, row-index)
    * positions: null-safe (<=> — Iceberg equality semantics treat NULL
    * as a match) left-semi join of the data rows against the union of
    * the set's delete files, applied only to files with STRICTLY OLDER
    * sequence numbers than the delete (the spec's apply rule).
    *
    * Scale shape: files at/after every delete's sequence can never match
    * — they are dropped from the SCAN, not post-join (a freshly-synced
    * CDC table's newest files never pay the read). The delete side is
    * broadcast only when its manifest-recorded bytes fit the session
    * broadcast threshold: years of accumulated Flink-CDC deletes can be
    * GBs, and an unconditional broadcast is an executor OOM — past the
    * threshold the join ships as a shuffle join (AQE may still choose
    * broadcast from runtime stats when it actually fits).
    */
  private[delta] def equalityDeleteRows(spark: SparkSession,
      eqCols: Seq[String], delFiles: Seq[(String, Long)], delBytes: Long,
      dataFiles: Seq[(String, Long)],
      physOf: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val maxDseq = delFiles.map(_._2).max
    val live = dataFiles.filter(_._2 < maxDseq)
    if (live.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("fp", StringType), StructField("ri", LongType))))
    val dels0 = delFiles.map { case (p, sq) =>
      // a conformant writer names the delete file's columns after the
      // table schema; under name mapping some engines write the MAPPED
      // (physical) names instead — accept either, per file, loudly
      // failing when neither resolves
      val raw = spark.read.parquet(p)
      raw.select(eqCols.map { c =>
        if (raw.columns.contains(c)) col(c)
        else col(physOf.getOrElse(c, c)).as(c)
      }: _*).withColumn("__dseq", lit(sq))
    }.reduce(_ unionByName _)
      .select(eqCols.map(c => col(c).as(s"__d_$c")) :+ col("__dseq"): _*)
    val bcLimit = spark.sessionState.conf.autoBroadcastJoinThreshold
    val dels = if (bcLimit > 0 && delBytes <= bcLimit) broadcast(dels0) else dels0
    val fseqDF = spark.createDataFrame(
      spark.sparkContext.parallelize(
        live.map(f => org.apache.spark.sql.Row(
          f._1.replaceFirst("^file:/+", "/"), f._2)),
        math.max(1, math.min(live.size, 32))),
      StructType(Seq(StructField("fp", StringType, nullable = false),
        StructField("__fseq", LongType, nullable = false))))
    // the (path, seq) relation is hinted broadcast only while it is
    // plausibly small — at 10^7 files it is itself ~1 GB of strings, the
    // same OOM class as the delete side (AQE still picks broadcast from
    // runtime stats when it fits)
    val fseqHinted =
      if (live.size <= 100000) broadcast(fseqDF) else fseqDF
    // data files of a name-mapped table carry the MAPPED (physical)
    // parquet names — select physical AS logical so the null-safe
    // equality condition binds the same columns on both sides
    val data = spark.read.parquet(live.map(_._1): _*)
      .select(eqCols.map(c =>
        col(physOf.getOrElse(c, c)).as(c)) ++ Seq(
        DeletionVectors.normFp(col("_metadata.file_path")).as("fp"),
        col("_metadata.row_index").as("ri")): _*)
      .join(fseqHinted, Seq("fp"))
    val cond = eqCols.map(c => col(c) <=> col(s"__d_$c")).reduce(_ && _) &&
      col("__fseq") < col("__dseq")
    data.join(dels, cond, "leftsemi").select(col("fp"), col("ri"))
  }

  private[delta] def readAll(fs: org.apache.hadoop.fs.FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var r = in.read(buf)
      while (r >= 0) { out.write(buf, 0, r); r = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def writeAll(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }
}
