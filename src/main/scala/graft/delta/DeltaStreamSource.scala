package graft.delta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * Structured-Streaming SOURCE over a Delta table (the `readStream
 * .format("graftdelta")` analog of delta-spark's flagship streaming read
 * — beyond the reference, which has no streaming at all).
 *
 * Offsets are TABLE VERSIONS: batch (start, end] delivers the rows of
 * every `dataChange` add committed in versions start+1..end, so each
 * append becomes exactly one incremental slice and checkpoint recovery
 * replays version ranges idempotently (the log is immutable history —
 * the natural exactly-once source). First batch starts at
 * `startingVersion` (default 0 = the whole table).
 *
 * Non-append commits (DELETE/UPDATE: a `dataChange` remove, or DV
 * growth) are REFUSED loudly — silently treating a delete-carrying
 * version as pure inserts under-reports change, the same fail-closed
 * choice as [[DeltaTable.changes]]. `ignoreChanges=true` opts into
 * streaming just the adds of such commits (delta-spark's contract).
 * OPTIMIZE rewrites (`dataChange=false`) are skipped: not a change.
 *
 * Options: `startingVersion`, `maxVersionsPerTrigger` (rate limit),
 * `maxFilesPerTrigger` / `maxBytesPerTrigger` (file-granular rate limits;
 * the tighter bound wins, at least one file per batch — delta-spark
 * semantics), `ignoreChanges`.
 *
 * Scale: getOffset is one log listing; getBatch plans a bounded file
 * list (the range's adds) into a [[Snapshot.relation]] over exactly those
 * files under the latest snapshot's metadata — the reader every table
 * scan uses, so column mapping and the table's partition types apply and
 * files that predate a column add read it as null. No state beyond the
 * engine's offset checkpoint.
 *
 * Schema: the stream's schema is the table's at stream start. Additive
 * changes (ADD COLUMN) keep it readable; a batch whose latest metadata has
 * lost one of its columns (DROP or RENAME COLUMN) fails before reading,
 * naming the column and the version — delta-spark's contract for
 * non-additive schema changes.
 *
 * Admission control: implements [[SupportsTriggerAvailableNow]] (v1
 * `Source` mixing in the connector interface, the same shape delta-spark
 * uses), so `Trigger.AvailableNow` processes exactly the versions present
 * at stream start — rate-limited into multiple micro-batches by
 * `maxVersionsPerTrigger` — then stops, instead of falling back to one
 * unbounded batch.
 */
final class DeltaStreamSource(
    spark: SparkSession,
    log: DeltaLog,
    parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
    "startingVersion and startingTimestamp are mutually exclusive")
  private val requestedStart: Option[Long] =
    parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").map { ts =>
        // first commit at-or-after the timestamp (CDF boundary semantics,
        // same rule as the batch readChangeFeed path) — parsed by the ONE
        // shared parser (session-zone, zone-suffix-aware); Timestamp.valueOf
        // here would resolve in the JVM default zone and diverge from the
        // batch surface on the same literal
        val millis = ts.toLongOption.getOrElse(
          DeltaLog.parseTimestampMillis(spark, ts))
        log.firstVersionAtOrAfter(millis)
      })
  private val startingVersion: Long = {
    val oldest = log.listCommitVersions().headOption.getOrElse(0L)
    requestedStart match {
      case Some(v) =>
        // an EXPLICIT start below the oldest retained commit cannot be
        // honored — those versions' adds are gone with the cleaned log,
        // and silently starting later under-reports the table. Fail
        // loudly (delta-spark errors on an unavailable starting version)
        require(v >= oldest,
          s"graftdelta stream: startingVersion $v predates the oldest " +
            s"retained commit $oldest of ${log.tablePath} (log cleaned " +
            s"past it); earliest available is $oldest")
        v
      // default start = earliest RETAINED commit (replay what the log
      // still has), not version 0 of a possibly-cleaned history
      case None => oldest
    }
  }
  private val maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toLong)
  /** File-granular admission: at most N data files per micro-batch, even
    * when one commit carries more — the cap a 100 TB table needs (one
    * OPTIMIZE-d ingest commit can hold thousands of files; version
    * granularity would admit them all at once). */
  private val maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toLong)
  require(maxFilesPerTrigger.forall(_ > 0), "maxFilesPerTrigger must be positive")
  /** Byte-granular admission: cumulative add-file `size` per micro-batch —
    * the cap users actually set on variably-sized files ("1g" etc.). Soft:
    * a batch admits files until the budget is exhausted, so it may exceed
    * the cap by one file but always makes progress. */
  private val maxBytesPerTrigger = parameters.get("maxBytesPerTrigger")
    .map(DeltaStreamSource.parseBytes)
  require(maxBytesPerTrigger.forall(_ > 0), "maxBytesPerTrigger must be positive")
  private val ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean)
  private val readChangeFeed = parameters.get("readChangeFeed").exists(_.toBoolean)

  // schema is fixed at stream start (latest snapshot); files from older
  // versions null-fill columns added since (same rule as the batch scan).
  // CDF mode appends the protocol's three change columns.
  private val startSchema: StructType = log.update().schema
  override val schema: StructType =
    if (readChangeFeed) DeltaStreamSource.cdfSchema(startSchema) else startSchema

  private case class VersionOffset(version: Long) extends OffsetV1 {
    override def json: String = s"""{"version":$version}"""
  }

  /** Sub-version offset for file-granular rate limiting
    * (`maxFilesPerTrigger`): the stream has consumed all versions < v
    * plus the first `index` data files of version v. A plain
    * {"version":v} offset (older checkpoints, unlimited streams) decodes
    * as "all of v consumed". */
  private case class FileOffset(version: Long, index: Long) extends OffsetV1 {
    override def json: String = s"""{"version":$version,"index":$index}"""
  }

  private def versionOf(o: OffsetV1): Long = decode(o)._1

  /** (version, consumed-file-count); Long.MaxValue = whole version. */
  private def decode(o: OffsetV1): (Long, Long) = o match {
    case VersionOffset(v) => (v, Long.MaxValue)
    case FileOffset(v, i) => (v, i)
    // checkpoint restore hands back a SerializedOffset (raw json)
    case other =>
      val n = ActionJson.mapper.readTree(other.json)
      (n.get("version").asLong(),
        Option(n.get("index")).filterNot(_.isNull).map(_.asLong)
          .getOrElse(Long.MaxValue))
  }

  /** Data files a plain stream emits for version v — dataChange adds
    * without DVs, in commit order (stable: the commit file is immutable) —
    * as their SIZES (byte admission needs them; count = size of the seq).
    * Cached: admission control touches each commit once. */
  private val fileSizeCache = scala.collection.mutable.Map.empty[Long, IndexedSeq[Long]]
  private def fileSizes(v: Long): IndexedSeq[Long] = synchronized {
    fileSizeCache.getOrElseUpdate(v,
      log.readCommit(v).flatMap(_.add)
        .filter(a => a.dataChange && a.deletionVector.isEmpty)
        .map(_.size).toIndexedSeq)
  }
  private def fileCount(v: Long): Long = fileSizes(v).size.toLong

  /** Same planning as [[latestOffset]] so the legacy getOffset path honors
    * maxFilesPerTrigger/maxBytesPerTrigger too (without admission control
    * the file-granular caps would otherwise silently not apply). The start
    * floor is the last end this source planned (the engine only hands the
    * committed start back in getBatch). */
  override def getOffset: Option[OffsetV1] = {
    val latest = log.update().version
    if (latest < startingVersion) return None
    val (fv, fiRaw) = lastPlannedOffset.getOrElse((startingVersion - 1, Long.MaxValue))
    val capped = maxVersionsPerTrigger match {
      case Some(max) => math.min(latest, fv + max)
      case None => latest
    }
    planOffset(fv, fiRaw, capped)
  }

  @volatile private var lastPlannedOffset: Option[(Long, Long)] = None

  // ---- admission control (engine calls latestOffset, not getOffset,
  //      when a source implements SupportsAdmissionControl) ----

  /** Under Trigger.AvailableNow: the table version present at stream
    * start — the fixed end the stream must drain to and then stop at,
    * even if the table keeps growing underneath. */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(log.update().version)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val latest = availableNowCap.getOrElse(log.update().version)
    val (fv, fiRaw) = Option(start) match {
      case Some(o: OffsetV1) => decode(o)
      case Some(other) =>
        val n = ActionJson.mapper.readTree(other.json)
        (n.get("version").asLong(),
          Option(n.get("index")).filterNot(_.isNull).map(_.asLong)
            .getOrElse(Long.MaxValue))
      case None => (startingVersion - 1, Long.MaxValue)
    }
    val capped = maxVersionsPerTrigger match {
      case Some(max) => math.min(latest, fv + max)
      case None => latest
    }
    planOffset(fv, fiRaw, capped).orNull
  }

  /** Plan the next end offset from floor (fv, fiRaw) up to version
    * `capped`, honoring the file-granular caps (maxFilesPerTrigger /
    * maxBytesPerTrigger — the TIGHTER bound wins; at least one file per
    * batch so the stream always progresses). CDF streams stay
    * version-granular: their unit of change is the version, not the data
    * file. None = no new data. */
  private def planOffset(fv: Long, fiRaw: Long, capped: Long): Option[OffsetV1] = {
    val have = log.listCommitVersions().toSet
    val fileLimited = !readChangeFeed &&
      (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)
    if (!fileLimited) {
      // a PARTIAL floor (checkpoint written under a file-granular cap,
      // option since removed) must still drain the rest of its version
      val floorPartial = fiRaw != Long.MaxValue &&
        fv >= startingVersion && have.contains(fv) && fiRaw < fileCount(fv)
      if (capped <= fv && !floorPartial) None
      else Some(VersionOffset(math.max(capped, fv)))
    } else {
      val fiNorm =
        if (fv < startingVersion || !have.contains(fv)) 0L
        else math.min(fiRaw, fileCount(fv))
      var remFiles = maxFilesPerTrigger.getOrElse(Long.MaxValue)
      var remBytes = maxBytesPerTrigger.getOrElse(Long.MaxValue)
      var end: (Long, Long) = (fv, fiNorm)
      var v = if (fv < startingVersion || !have.contains(fv) ||
        fiNorm >= fileCount(fv)) fv + 1 else fv
      var exhausted = false
      while (v <= capped && !exhausted) {
        if (have.contains(v)) {
          val sizes = fileSizes(v)
          // a data-file-free version (metadata-only / remove-only commit)
          // is consumed by advancing past it — otherwise a tail of such
          // commits would keep planOffset at None and Trigger.AvailableNow
          // runs would replan the same versions forever
          if (sizes.isEmpty) end = (v, 0L)
          var i = (if (v == fv) fiNorm else 0L).toInt
          while (i < sizes.size && !exhausted) {
            if (remFiles <= 0 || remBytes <= 0) exhausted = true
            else {
              remFiles -= 1
              remBytes -= sizes(i)
              i += 1
              end = (v, i.toLong)
            }
          }
        } else end = (v, 0L)
        if (!exhausted) v += 1
      }
      val progressed = end._1 > fv || (end._1 == fv && end._2 > fiNorm)
      val fullyConsumed =
        !have.contains(end._1) || end._2 >= fileCount(end._1)
      if (!progressed) None
      else if (fullyConsumed) Some(VersionOffset(end._1))
      else Some(FileOffset(end._1, end._2))
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val (endV, endIdx) = decode(end)
    val (startV, startIdxRaw) =
      start.map(decode).getOrElse((startingVersion - 1, Long.MaxValue))
    lastPlannedOffset = Some((endV, endIdx))
    val have = log.listCommitVersions().toSet
    // a partially-consumed start version contributes its remaining files
    val startPartial = startV >= startingVersion && have.contains(startV) &&
      startIdxRaw != Long.MaxValue && startIdxRaw < fileCount(startV)
    val versions =
      (if (startPartial) Seq(startV) else Nil) ++
        ((startV + 1) to endV).filter(_ >= startingVersion)
    // a planned-but-missing version means retention cleanup outran the
    // consumer: unconsumed change is unrecoverable — fail loudly rather
    // than silently emit a batch with holes
    val missing = versions.filterNot(have.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"graftdelta stream: commit(s) ${missing.take(3).mkString(", ")} " +
          s"of ${log.tablePath} were retention-cleaned before this " +
          "micro-batch read them; restart the stream from an available " +
          "version")
    // every batch reads under the latest metadata: a column of the start
    // schema that is gone from it (DROP or RENAME COLUMN) cannot be read
    val snap = log.update()
    DeltaStreamSource.lostColumn(startSchema, snap.schema).foreach { c =>
      throw new IllegalStateException(
        s"graftdelta stream: column `$c` of the stream's schema is gone from " +
          s"${log.tablePath} as of version ${snap.version} (dropped or " +
          "renamed): a non-additive schema change. Restart the stream to " +
          "read the table's current schema")
    }
    if (readChangeFeed) return getChangeBatch(versions)
    val adds = versions.flatMap { v =>
      val acts = log.readCommit(v)
      val removes = acts.flatMap(_.remove).filter(_.dataChange)
      val dvGrowth = acts.flatMap(_.add).exists(a =>
        a.deletionVector.isDefined && a.dataChange)
      if ((removes.nonEmpty || dvGrowth) && !ignoreChanges)
        throw new IllegalStateException(
          s"graftdelta stream: version $v of ${log.tablePath} contains " +
            "row deletions (DELETE/UPDATE/MERGE); a plain stream would " +
            "under-report change. Set ignoreChanges=true to stream only " +
            "its added rows, or consume DeltaTable.changes for a full feed")
      val all = acts.flatMap(_.add).filter(a => a.dataChange && a.deletionVector.isEmpty)
      // slice by the sub-version offsets: files are in commit order, which
      // is immutable — the same index always names the same file
      val from = if (v == startV && startPartial) startIdxRaw else 0L
      val until = if (v == endV) math.min(endIdx, all.size.toLong) else all.size.toLong
      all.slice(from.toInt, until.toInt)
    }
    val batch =
      if (adds.isEmpty) emptyBatch
      else snap.relationDF(files = Some(adds.map(_ -> None)))
    asStreamingBatch(batch)
  }

  /** CDF micro-batch: the versions' row-level change feed via
    * [[DeltaTable.changeFeed]] (DV-diff aware, cdc-file aware, fail-closed
    * on underivable commits, each commit file read once), stamped with
    * the protocol's change columns. Versions with no dataChange actions
    * contribute nothing. */
  private def getChangeBatch(versions: Seq[Long]): DataFrame =
    asStreamingBatch(DeltaTable.forPath(spark, log.tablePath.toString)
      .changeFeed(versions).getOrElse(emptyBatch))

  private def emptyBatch: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The batch in this source's column order, as a streaming plan. */
  private def asStreamingBatch(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.asStreamingBatch(
      df.select(schema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*))

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"DeltaStreamSource[${log.tablePath}]"
}

object DeltaStreamSource {
  /** The first (dotted) column of `was` that `now` lacks by name, looking
    * into nested structs; None when `now` only adds columns. */
  private[delta] def lostColumn(was: StructType, now: StructType): Option[String] =
    was.fields.iterator.flatMap { f =>
      (f.dataType, now.fields.find(_.name == f.name).map(_.dataType)) match {
        case (_, None) => Some(f.name)
        case (a: StructType, Some(b: StructType)) => lostColumn(a, b).map(c => s"${f.name}.$c")
        case _ => None
      }
    }.nextOption()

  /** "10m"/"1g"-style byte strings (delta-spark accepts these for
    * maxBytesPerTrigger) or a plain byte count. */
  private[delta] def parseBytes(s: String): Long = {
    val t = s.trim.toLowerCase
    val m = raw"(\d+)\s*([kmgt]?)b?".r
    t match {
      case m(n, unit) =>
        val mult = unit match {
          case "k" => 1L << 10
          case "m" => 1L << 20
          case "g" => 1L << 30
          case "t" => 1L << 40
          case _ => 1L
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(
        s"maxBytesPerTrigger: cannot parse '$s' (use e.g. 10485760, 10m, 1g)")
    }
  }

  /** Table schema + the CDF columns `changes` stamps. */
  def cdfSchema(table: StructType): StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    StructType(table.fields.toIndexedSeq ++ Seq(
      StructField("_change_type", StringType, nullable = true),
      StructField("_commit_version", LongType, nullable = false),
      StructField("_commit_timestamp", LongType, nullable = false)))
  }
}
