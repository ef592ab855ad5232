package graft.delta

import org.apache.spark.sql.types.{DataType, StructType}

/**
 * Delta transaction-log action model.
 *
 * Mirrors the protocol surface the reference consumes through
 * delta-kernel-rs: add/remove reconciliation, metaData/protocol
 * replacement, txn app versions, domain metadata
 * (reference: src/functions/delta_scan/delta_multi_file_list.cpp:527-744,
 * src/storage/delta_transaction.cpp:490-573).
 *
 * Field shapes follow the public Delta protocol spec; `schemaString`
 * is the Spark `DataType.json` serialization (identical format).
 */
final case class Protocol(
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 2,
    readerFeatures: Option[Seq[String]] = None,
    writerFeatures: Option[Seq[String]] = None)

final case class Metadata(
    id: String,
    name: Option[String] = None,
    description: Option[String] = None,
    schemaString: String = "",
    partitionColumns: Seq[String] = Nil,
    configuration: Map[String, String] = Map.empty,
    createdTime: Option[Long] = None) {
  /** Logical table schema (partition columns included, in declared order). */
  lazy val schema: StructType =
    if (schemaString.isEmpty) new StructType()
    else DataType.fromJson(schemaString).asInstanceOf[StructType]
  /** Data (non-partition) columns, i.e. what is physically in parquet files. */
  lazy val dataSchema: StructType =
    StructType(schema.filterNot(f => partitionColumns.contains(f.name)))
  lazy val partitionSchema: StructType =
    StructType(partitionColumns.flatMap(c => schema.find(_.name == c)))
}

/**
 * Deletion-vector descriptor (protocol `deletionVector` struct on add/remove).
 * storageType: "u" = relative path derived from z85-encoded UUID,
 * "p" = absolute path, "i" = inline (pathOrInlineDv is z85 of the data).
 * Reference consumes the decoded selection vector per file
 * (src/functions/delta_scan/delta_multi_file_list.cpp:448-462).
 */
final case class DeletionVectorDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int],
    sizeInBytes: Int,
    cardinality: Long) {
  def uniqueId: String = s"$storageType$pathOrInlineDv${offset.map("@" + _).getOrElse("")}"
}

final case class AddFile(
    path: String, // relative, URL-encoded per protocol
    partitionValues: Map[String, String], // null values allowed
    size: Long,
    modificationTime: Long,
    dataChange: Boolean = true,
    stats: Option[String] = None,
    deletionVector: Option[DeletionVectorDescriptor] = None,
    tags: Map[String, String] = Map.empty,
    // row tracking (writer feature `rowTracking`): row i of this file has
    // fresh row id baseRowId + i; preserved through checkpoints
    baseRowId: Option[Long] = None,
    defaultRowCommitVersion: Option[Long] = None,
    // liquid clustering (writer feature `clustering`): name of the
    // algorithm that clustered this file's rows ("liquid"); informational
    // per protocol, preserved through commits + checkpoints
    clusteringProvider: Option[String] = None) {
  /** Percent-decoded relative path — the reconciliation key (reference
    * decodes paths the same way, delta_multi_file_list.cpp:26-42). */
  lazy val decodedPath: String = Actions.percentDecode(path)

  /** Parsed add-action stats (numRecords/minValues/maxValues/nullCount). */
  lazy val parsedStats: Option[ParsedStats] = stats.flatMap(ParsedStats.parse)

  /** The remove of this file at `timestamp`, carrying its deletion vector,
    * partition values and size (`extendedFileMetadata`), so change-feed
    * readers need neither its path nor the file itself. */
  def removed(timestamp: Long, dataChange: Boolean = true): RemoveFile =
    RemoveFile(path, Some(timestamp), dataChange, deletionVector,
      Some(partitionValues), Some(size))
}

final case class RemoveFile(
    path: String,
    deletionTimestamp: Option[Long] = None,
    dataChange: Boolean = true,
    deletionVector: Option[DeletionVectorDescriptor] = None,
    // optional per protocol (`extendedFileMetadata`): the removed file's
    // partition values and size (this library always writes them; foreign
    // writers may not)
    partitionValues: Option[Map[String, String]] = None,
    size: Option[Long] = None) {
  lazy val decodedPath: String = Actions.percentDecode(path)
}

/** A change data file (`cdc` action): `_change_data/` parquet holding a
  * commit's row-level changes with a `_change_type` column. State replay
  * ignores it; only change-feed reads use it. */
final case class AddCDCFile(
    path: String,
    partitionValues: Map[String, String],
    size: Long) {
  lazy val decodedPath: String = Actions.percentDecode(path)
}

object Actions {
  /** URI percent-decoding for `add.path`/`remove.path`. NOT
    * URLDecoder form semantics: a literal '+' is a legal un-encoded URI
    * path character that foreign writers (delta-spark writes
    * `new URI(...)`-encoded paths) leave bare, and form decoding would
    * turn it into a space — resolving to the wrong file. Escaping '+'
    * first makes URLDecoder decode ONLY the %XX sequences ('%2B' still
    * decodes to '+', since the escape leaves it untouched). */
  private[graft] def percentDecode(path: String): String =
    if (!path.contains('%')) path // nothing encoded; '+' stays literal
    else
      try java.net.URLDecoder.decode(
        path.replace("+", "%2B"), java.nio.charset.StandardCharsets.UTF_8)
      catch {
        // A malformed sequence (a sloppy foreign writer's bare '%', e.g.
        // '100%.parquet') passes through raw rather than aborting log
        // replay — the reference's url_decode
        // (delta_multi_file_list.cpp:26-42) is tolerant the same way.
        case _: IllegalArgumentException => path
      }
}

/** Idempotent-write marker (reference: idempotency_helpers.cpp:41-145). */
final case class SetTransaction(appId: String, version: Long, lastUpdated: Option[Long])

/** Domain metadata action (reference: delta_domain_metadata.cpp:11-77). */
final case class DomainMetadata(domain: String, configuration: String, removed: Boolean)

final case class CommitInfo(
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String] = Map.empty,
    engineInfo: String = "graft-spark/0.1.0",
    // in-commit timestamps (writer feature inCommitTimestamp): when the
    // table enables delta.enableInCommitTimestamps, THIS field — not file
    // modification time — is the authoritative commit time for time
    // travel and history
    inCommitTimestamp: Option[Long] = None,
    // operation OUTCOMES (numOutputRows, numDeletedRows, …), the
    // delta-spark DESCRIBE HISTORY operationMetrics column; parameters
    // above are the operation's INPUTS
    operationMetrics: Map[String, String] = Map.empty)

/** One line of a Delta log commit file. Exactly one field is set. */
final case class Action(
    commitInfo: Option[CommitInfo] = None,
    protocol: Option[Protocol] = None,
    metaData: Option[Metadata] = None,
    add: Option[AddFile] = None,
    remove: Option[RemoveFile] = None,
    txn: Option[SetTransaction] = None,
    domainMetadata: Option[DomainMetadata] = None,
    cdc: Option[AddCDCFile] = None)

object Action {
  def apply(a: Any): Action = a match {
    case c: CommitInfo => Action(commitInfo = Some(c))
    case p: Protocol => Action(protocol = Some(p))
    case m: Metadata => Action(metaData = Some(m))
    case f: AddFile => Action(add = Some(f))
    case r: RemoveFile => Action(remove = Some(r))
    case t: SetTransaction => Action(txn = Some(t))
    case d: DomainMetadata => Action(domainMetadata = Some(d))
    case c: AddCDCFile => Action(cdc = Some(c))
  }
}
