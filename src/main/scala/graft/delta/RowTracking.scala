package graft.delta

import com.fasterxml.jackson.databind.ObjectMapper

/** Row tracking (open Delta `rowTracking` writer feature): every row gets
  * a table-unique, stable id.
  *
  * Protocol shape (PROTOCOL.md "Row Tracking"):
  *  - each commit that adds files assigns `baseRowId` ranges to them from a
  *    monotonically increasing high-water mark persisted as [[DomainMetadata]]
  *    under the `delta.rowTracking` domain
  *    (`{"rowIdHighWaterMark":N}`);
  *  - a row's FRESH id is `baseRowId + <physical position in file>` and its
  *    fresh commit version is the AddFile's `defaultRowCommitVersion`;
  *  - a rewrite that must keep ids STABLE (OPTIMIZE / ZORDER, where the
  *    row's content is unchanged) materializes them into physical columns
  *    so the new file overrides the fresh ids. Readers compute
  *    `coalesce(materialized, baseRowId + row_index)`.
  *
  * Divergence from delta-spark, documented: the materialized column names
  * are the fixed [[MatRowId]]/[[MatRowCommitVersion]] rather than
  * per-table generated names (we reject user schemas that collide instead
  * of renaming around them). The reference engine (`csimplestring/delta-go`)
  * has no row tracking; this is metadata-layer machinery the compute layer
  * needs for incremental pipelines (self-describing CDC joins, training-data
  * lineage at 100 TB).
  */
object RowTracking {

  val Domain = "delta.rowTracking"
  val FeatureName = "rowTracking"
  val DomainFeatureName = "domainMetadata"

  /** Physical (parquet-only) column names carrying materialized row ids;
    * never part of the table schema.
    */
  val MatRowId = "_graft_row_id"
  val MatRowCommitVersion = "_graft_row_commit_version"

  /** Spec table-config keys advertising the materialized column names, so
    * a conforming external writer materializes ids under OUR names instead
    * of generating its own (which this reader would silently ignore).
    */
  val MatRowIdConfigKey = "delta.rowTracking.materializedRowIdColumnName"
  val MatRowCommitVersionConfigKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** Stamp the materialized-column-name config keys (pointing at the fixed
    * physical names) into metadata that enables row tracking.
    */
  def withMaterializedNames(md: Metadata): Metadata = {
    if (!enabled(md)) return md
    val add = Map(
      MatRowIdConfigKey -> MatRowId,
      MatRowCommitVersionConfigKey -> MatRowCommitVersion)
      .filter { case (k, _) => !md.configuration.contains(k) }
    if (add.isEmpty) md else md.copy(configuration = md.configuration ++ add)
  }

  private val mapper = new ObjectMapper()

  def configJson(hwm: Long): String = s"""{"rowIdHighWaterMark":$hwm}"""

  /** -1 when the domain is absent (no ids assigned yet). */
  def highWaterMark(domains: Map[String, String]): Long =
    domains.get(Domain).flatMap { s =>
      try {
        val n = mapper.readTree(s).get("rowIdHighWaterMark")
        if (n == null || n.isNull) None else Some(n.asLong())
      } catch { case _: Exception => None }
    }.getOrElse(-1L)

  def enabled(md: Metadata): Boolean = DeltaConfig.RowTracking.fromMetadata(md)

  /** Reject table schemas whose column names collide with the fixed
    * materialized-column names, and tables whose config declares FOREIGN
    * materialized column names (written by another engine): this impl
    * reads only [[MatRowId]]/[[MatRowCommitVersion]], so honoring such a
    * table would silently drop the externally-materialized ids.
    */
  def assertNoCollision(md: Metadata): Unit = {
    val bad = md.schema.fieldNames.toSet
      .intersect(Set(MatRowId, MatRowCommitVersion))
    require(bad.isEmpty,
      s"row tracking reserves column name(s) ${bad.mkString(", ")}")
    Seq(MatRowIdConfigKey -> MatRowId,
      MatRowCommitVersionConfigKey -> MatRowCommitVersion).foreach {
      case (key, fixed) => md.configuration.get(key).foreach { declared =>
        require(declared == fixed,
          s"unsupported row-tracking table: $key='$declared' was materialized " +
            s"by another writer; this engine only reads '$fixed'")
      }
    }
  }
}
