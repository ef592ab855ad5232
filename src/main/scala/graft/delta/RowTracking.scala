package graft.delta

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/**
 * Row tracking (protocol writer feature `rowTracking`): every add action
 * carries a `baseRowId`, and row i of the file has fresh row id
 * baseRowId + i; the highest assigned id is tracked in the
 * `delta.rowTracking` domain metadata (`rowIdHighWaterMark`). Fresh ids
 * are stable under DV deletes (positions never move) — this engine
 * assigns on append/overwrite and preserves the fields through JSON
 * commits AND checkpoints.
 *
 * Rewrites preserve ids by MATERIALIZING them: the rewritten parquet
 * carries extra physical columns (names minted once into the table
 * configuration, `delta.rowTracking.materializedRowIdColumnName` /
 * `...RowCommitVersionColumnName` — the protocol's mechanism), and a
 * reader resolves row id = materialized value if present else
 * baseRowId + row_index. OPTIMIZE and ZORDER write both columns; UPDATE
 * and MERGE write the id column only, so a rewritten row's commit
 * version is the version that rewrote it.
 *
 * Assignment is pure driver-side bookkeeping over the commit's add
 * actions (numRecords comes from the per-file stats already computed by
 * the write) — zero extra jobs, any commit size.
 */
object RowTracking {

  val DomainName = "delta.rowTracking"

  val MatRowIdProp = "delta.rowTracking.materializedRowIdColumnName"
  val MatRowVerProp = "delta.rowTracking.materializedRowCommitVersionColumnName"

  /** Materialized row-id column names, when a rewrite has minted them. */
  def materializedNames(md: Metadata): Option[(String, String)] =
    for {
      a <- md.configuration.get(MatRowIdProp)
      b <- md.configuration.get(MatRowVerProp)
    } yield (a, b)

  /** Names for the materialized columns, minting fresh uuid-suffixed ones
    * into the configuration on first use. Returns (metadata to commit,
    * names, whether the metadata changed). */
  def ensureMaterializedNames(md: Metadata): (Metadata, (String, String), Boolean) =
    materializedNames(md) match {
      case Some(n) => (md, n, false)
      case None =>
        val sfx = java.util.UUID.randomUUID.toString
        val names = (s"_row-id-col-$sfx", s"_row-commit-version-col-$sfx")
        (md.copy(configuration = md.configuration +
          (MatRowIdProp -> names._1) + (MatRowVerProp -> names._2)),
          names, true)
    }

  /** The materialized columns a rewrite stores each row's stable id and
    * commit version in, and, when this rewrite is the first and mints
    * their names, the metadata that records them for its commit. */
  private[delta] final case class RewriteColumns(id: String, version: String,
      minted: Option[Metadata])

  /** [[RewriteColumns]] on a row-tracked table; None otherwise. */
  private[delta] def rewriteColumns(snap: Snapshot): Option[RewriteColumns] =
    if (!enabled(snap)) None
    else {
      val (md, (id, version), minted) = ensureMaterializedNames(snap.metadata)
      Some(RewriteColumns(id, version, if (minted) Some(md) else None))
    }

  private[delta] def idField(name: String): StructField =
    StructField(name, LongType, nullable = true)

  /** Per-file lookup column: absolute path → value, as a codegen'd literal
    * map (no join). Null when no file carries the value. */
  private[delta] def pathMapCol(scoped: Snapshot, value: AddFile => Option[Long]): Column = {
    val args = scoped.allFiles.flatMap { f =>
      val p = scoped.absolutePath(f)
      value(f).toSeq.flatMap(v => Seq(p.toString -> v, p.toUri.getPath -> v))
    }.distinctBy(_._1).flatMap { case (p, v) => Seq(lit(p), lit(v)) }
    if (args.isEmpty) lit(null).cast(LongType)
    else element_at(map(args.toIndexedSeq: _*), col("_metadata.file_path"))
  }

  /** The current row's stable id inside a DML scan that carries
    * `_metadata` plus the materialized id column: a previously
    * materialized value wins, else baseRowId + row_index. */
  private[delta] def preservedIdCol(snap: Snapshot, matId: String): Column =
    coalesce(col(s"`$matId`"),
      pathMapCol(snap, _.baseRowId) + col("_metadata.row_index"))

  /** Rows of `scoped`'s files under LOGICAL column names plus the two
    * materialized row-id columns, each surviving row keeping its id: a
    * previously-materialized value wins, else baseRowId + row_index.
    * DV-deleted rows are dropped. This is the frame a rewrite
    * (OPTIMIZE/ZORDER) writes back, id-stable by construction. */
  private[delta] def preservedRowsDF(scoped: Snapshot, cols: RewriteColumns): DataFrame = {
    val freshId = pathMapCol(scoped, _.baseRowId) + col("_metadata.row_index")
    val freshVer = pathMapCol(scoped, _.defaultRowCommitVersion)
    scoped.relationDF(extraDataCols = Seq(idField(cols.id), idField(cols.version))).select((
      scoped.schema.fieldNames.map(n => col(s"`$n`")) ++ Seq(
      coalesce(col(s"`${cols.id}`"), freshId).as(cols.id),
      coalesce(col(s"`${cols.version}`"), freshVer).as(cols.version))).toIndexedSeq: _*)
  }

  def enabled(snap: Snapshot): Boolean =
    snap.protocol.writerFeatures.exists(_.contains("rowTracking")) ||
      snap.metadata.configuration.get("delta.enableRowTracking")
        .exists(_.equalsIgnoreCase("true"))

  def enabledAtCreate(configuration: Map[String, String]): Boolean =
    configuration.get("delta.enableRowTracking").exists(_.equalsIgnoreCase("true"))

  /** Current high-water mark (highest assigned row id), -1 when none. */
  def highWaterMark(snap: Snapshot): Long =
    snap.domainMetadata.find(d => d.domain == DomainName && !d.removed)
      .flatMap { d =>
        try Option(ActionJson.mapper.readTree(d.configuration).get("rowIdHighWaterMark"))
          .map(_.asLong)
        catch { case _: Exception => None }
      }.getOrElse(-1L)

  /**
   * Assign `baseRowId` + `defaultRowCommitVersion` to `adds` continuing
   * from `hwm`, and produce the updated domain-metadata action. Files
   * without stats count as empty (our writer always stats real files).
   */
  def assign(adds: Seq[AddFile], hwm: Long, commitVersion: Long)
      : (Seq[AddFile], DomainMetadata) = {
    var next = hwm + 1
    val assigned = adds.map { a =>
      val n = a.parsedStats.flatMap(_.numRecords).getOrElse(0L)
      val out = a.copy(baseRowId = Some(next),
        defaultRowCommitVersion = Some(commitVersion))
      next += n
      out
    }
    (assigned, DomainMetadata(DomainName,
      s"""{"rowIdHighWaterMark":${next - 1}}""", removed = false))
  }
}
