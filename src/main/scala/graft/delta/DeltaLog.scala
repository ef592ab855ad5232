package graft.delta

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.SortedMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Transaction-log reader/replayer for one Delta table — the Scala
 * replacement for the delta-kernel-rs snapshot machinery the reference
 * drives through `DeltaMultiFileList`
 * (reference: src/functions/delta_scan/delta_multi_file_list.cpp:527-744).
 *
 * Responsibilities: list `_delta_log`, read `_last_checkpoint` + the
 * checkpoint parquet, apply newer JSON commits with add/remove
 * reconciliation, resolve a version (`versionAsOf` ≈ `AT (VERSION => n)`,
 * reference src/storage/delta_catalog.cpp:13-23), cache snapshots and
 * replay incrementally (≈ PIN_SNAPSHOT / snapshot-hint behavior,
 * reference delta_multi_file_list.cpp:694-744).
 *
 * Scale notes: JSON commits are small and parsed on the driver; the
 * checkpoint is parquet and is read through Spark (distributed parse,
 * driver only materializes the reconciled file list — the same thing any
 * Spark file-source plan needs at planning time).
 */
class DeltaLog private (@transient val spark: SparkSession, val tablePath: Path) {
  val logPath = new Path(tablePath, "_delta_log")
  @transient lazy val fs: FileSystem =
    logPath.getFileSystem(spark.sessionState.newHadoopConf())

  @volatile private var cachedLatest: Option[Snapshot] = None
  private[delta] val versionCache = new ConcurrentHashMap[Long, Snapshot]()

  def tableExists: Boolean = listing().latest.isDefined

  // ---------------- log listing ----------------

  def commitFile(v: Long): Path = new Path(logPath, f"$v%020d.json")
  def checkpointFile(v: Long): Path = new Path(logPath, f"$v%020d.checkpoint.parquet")
  def checkpointPartFile(v: Long, part: Int, of: Int): Path =
    new Path(logPath, f"$v%020d.checkpoint.$part%010d.$of%010d.parquet")

  /** The one `_delta_log` listing. A resolve (`update`, `snapshotAt`,
    * `snapshotWithLogTail`) lists once and derives everything from it, as
    * do the views below. */
  private[delta] def listing(): LogListing =
    new LogListing(
      try fs.listStatus(logPath).toSeq
      catch { case _: java.io.FileNotFoundException => Nil })

  def listCommitVersions(): Seq[Long] = listing().commits

  /** Every uuid-named V2 manifest in the log, as (version, path) — all
    * attempts, all versions. Cleanup ref-counts sidecars against these. */
  private[delta] def listUuidManifests(): Seq[(Long, Path)] = listing().manifests

  /** Sidecar files a V2 manifest references, resolved to absolute paths —
    * the ref-count set for `_sidecars` garbage collection. Reads only the
    * `sidecar` column (json lines or parquet), not the file actions. */
  private[delta] def manifestSidecarPaths(manifest: Path): Seq[Path] = {
    import org.apache.spark.sql.functions.col
    val raw: Seq[String] =
      if (manifest.getName.endsWith(".json"))
        ActionJson.parseDocuments(DeltaLog.readText(fs, manifest))
          .filter(n => n.has("sidecar") && !n.get("sidecar").isNull)
          .map(_.get("sidecar").get("path").asText)
      else {
        val df = DeltaLog.readParquet(spark, Seq(manifest))
        if (!df.columns.contains("sidecar")) Nil
        else df.select(col("sidecar.path")).where(col("sidecar").isNotNull)
          .collect().map(_.getString(0)).toSeq
      }
    raw.map(resolveSidecarPath)
  }

  /** `_last_checkpoint` pointer, if present. */
  def lastCheckpointVersion(): Option[Long] = lastCheckpointInfo().map(_._1)

  /** `_last_checkpoint` (version, size-if-recorded). `size` is the action
    * count the writer put in the checkpoint — used to reject a MIXED part
    * set left by a crash during a same-part-count re-checkpoint (the part
    * names collide, so completeness alone can't tell the sets apart). */
  def lastCheckpointInfo(): Option[(Long, Option[Long])] =
    try {
      val root = ActionJson.mapper.readTree(
        DeltaLog.readText(fs, new Path(logPath, "_last_checkpoint")))
      Option(root.get("version")).map(v =>
        (v.asLong, Option(root.get("size")).map(_.asLong)))
    } catch { case NonFatal(_) => None }

  // ---------------- snapshot construction ----------------

  /** Latest snapshot. A cached eager tip is extended by the newer commits
    * (reference "snapshot hint" behavior); a LazySnapshot is rebuilt from
    * its checkpoint instead (cheap — no file-list collect). */
  def update(): Snapshot = tip(listing())

  /** The tip lives only in `cachedLatest`: a reader polling a table that
    * is written elsewhere holds one snapshot, not one per polled version.
    * A commit keeps it, so the writer's next resolve runs no Spark job. */
  private def tip(l: LogListing): Snapshot = synchronized {
    // a log whose every commit JSON at or below the checkpoint was
    // retention-cleaned (delta's metadata-cleanup steady state, and what
    // foreign cleaners produce) is still a table: the checkpoint IS the
    // latest state when no JSON outranks it
    val latest = l.latest.getOrElse(
      throw new IllegalStateException(s"Not a Delta table (no _delta_log): $tablePath"))
    val snap = cachedLatest.filter(_.version == latest)
      .orElse(Option(versionCache.get(latest)))
      .getOrElse(build(latest, l, cachedLatest.filterNot(_.isInstanceOf[LazySnapshot])))
    cachedLatest = Some(snap)
    snap
  }

  /** Authoritative commit timestamp: in-commit timestamp (writer feature
    * inCommitTimestamp) when present; then commitInfo.timestamp; file
    * modTime only as a last resort (foreign commits may omit commitInfo).
    * SHARED by time travel and both CDF timestamp boundaries — one rule,
    * one place. */
  private def commitTimestamp(v: Long): Long =
    readCommit(v).flatMap(_.commitInfo).headOption
      .map(ci => ci.inCommitTimestamp.getOrElse(ci.timestamp))
      .getOrElse(fs.getFileStatus(commitFile(v)).getModificationTime)

  /** In-commit timestamp for a commit landing at `version` on a table
    * whose configuration enables `delta.enableInCommitTimestamps`:
    * max(now, previous commit's ICT + 1) — the protocol's monotonicity
    * rule (clock skew between writers must never make history go
    * backwards). None when the table doesn't enable ICT.
    * [[ConflictChecker.commit]] re-invokes it per attempt with the actual
    * target version, so the previous-commit read sees the latest winner. */
  def nextInCommitTimestamp(conf: Map[String, String], version: Long): Option[Long] =
    if (!DeltaLog.ictEnabled(conf)) None
    else {
      val prev =
        if (version <= 0) -1L
        else
          try commitTimestamp(version - 1)
          catch { case NonFatal(_) => -1L }
      Some(math.max(System.currentTimeMillis(), prev + 1))
    }

  /**
   * Latest version whose commit timestamp is ≤ `tsMillis` — time travel
   * by timestamp (`timestampAsOf` / `TIMESTAMP AS OF`), delta-spark's
   * "latest commit at or before" rule. Timestamps come from commitInfo
   * (every writer here stamps one); a foreign commit without one falls
   * back to the commit file's modification time. One pass over the
   * version list reading only the small JSON commits — the same driver
   * cost as any log listing.
   */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val versions = listCommitVersions()
    require(versions.nonEmpty, s"no commits for table $tablePath")
    val atOrBefore = versions.filter(v => commitTimestamp(v) <= tsMillis)
    require(atOrBefore.nonEmpty,
      s"timestampAsOf $tsMillis predates the first commit of $tablePath " +
        s"(earliest ${commitTimestamp(versions.min)})")
    atOrBefore.max
  }

  /** First commit version at or after `tsMillis` — the CDF
    * `startingTimestamp` boundary (versionAtTimestamp is the time-travel
    * complement: last version at or before). */
  def firstVersionAtOrAfter(tsMillis: Long): Long = {
    val versions = listCommitVersions()
    require(versions.nonEmpty, s"no commits for table $tablePath")
    val atOrAfter = versions.filter(v => commitTimestamp(v) >= tsMillis)
    require(atOrAfter.nonEmpty,
      s"startingTimestamp $tsMillis is after the last commit of $tablePath " +
        s"(latest ${commitTimestamp(versions.max)})")
    atOrAfter.min
  }

  /** Snapshot at a pinned version — time travel (`versionAsOf`). */
  def snapshotAt(version: Long): Snapshot =
    cachedLatest.filter(_.version == version)
      .orElse(Option(versionCache.get(version)))
      .getOrElse {
        val l = listing()
        // a version may exist only as a checkpoint: retention cleanup (ours
        // or a foreign cleaner's) deletes commit JSONs the checkpoint covers
        if (!l.hasCommit(version) && !l.checkpoints.contains(version))
          throw new IllegalArgumentException(
            s"Version $version not found for table $tablePath " +
              s"(have ${l.commits.headOption.getOrElse(-1L)}..${l.commits.lastOption.getOrElse(-1L)})")
        val snap = build(version, l, None)
        versionCache.put(version, snap)
        snap
      }

  /** The one log replay: fold the commits after a base into it. The base
    * is `hint` when the listed commits reach `version` from it
    * (incremental refresh), else the newest valid checkpoint at or below
    * `version`, else nothing (replay from v0). */
  private def build(version: Long, l: LogListing, hint: Option[Snapshot]): Snapshot = {
    val (from, replay) = hint
      .filter(h => h.version < version && DeltaLog.missing(l.hasCommit, h.version, version).isEmpty)
      .map(h => h.version -> LogReplay.fromSnapshot(h))
      .getOrElse(checkpointBase(version, l))
    // A hole between the base and the target (mid-range commit deleted by
    // an unsafe cleaner, partial copy) must fail loudly — a gapped replay
    // can "succeed" whenever a surviving commit re-emits metaData (e.g.
    // SET TBLPROPERTIES) and then silently returns wrong table state.
    val missing = DeltaLog.missing(l.hasCommit, from, version)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"Cannot reconstruct $tablePath at version $version: commit file(s) " +
          s"${missing.take(5).mkString(", ")}${if (missing.size > 5) ", …" else ""} " +
          s"missing between checkpoint $from and the target " +
          "(expired-log cleanup past this version, or a partially copied log)")
    ((from + 1) to version).foreach(v => readCommit(v).foreach(replay.apply))
    replay.toSnapshot(this, version)
  }

  /**
   * The one checkpoint choice: the newest valid checkpoint at or below
   * `version`, read into a replay base — (checkpoint version, replay), or
   * (-1, empty replay) when none qualifies.
   *
   * Multi-part part names are protocol-fixed, so a crash during a
   * same-part-count re-checkpoint can leave a MIXED old/new set that is
   * complete BY NAME; the writer retracts `_last_checkpoint` around the
   * rename window, so a multi-part set is only trusted when the pointer
   * names it — and when the pointer records an action count, a mismatch
   * with what was read disqualifies. A disqualified or unreadable
   * candidate falls back to the next-older checkpoint, then JSON replay.
   *
   * A classic checkpoint the pointer names that is huge — by recorded
   * action count or by parquet bytes — keeps its adds in parquet
   * ([[LazySnapshot]]): the driver decodes only the non-add actions, and
   * the count check uses the parquet row count (metadata-only).
   */
  private def checkpointBase(version: Long, l: LogListing): (Long, LogReplay) = {
    val pointer = lastCheckpointInfo()
    l.checkpoints.rangeTo(version).values.toSeq.reverseIterator.flatMap { cp =>
      val cv = cp.version
      // uuid manifests are attempt-unique (no mixed-set crash mode) and
      // foreign writers disagree on whether `size` counts sidecar file
      // actions, so the count check applies to classic checkpoints only
      val size = pointer.collect {
        case (pv, Some(sz)) if pv == cv && cp.manifest.isEmpty => sz
      }
      if (cp.multiPart && !pointer.exists(_._1 == cv)) {
        DeltaLog.log.warn(
          s"Multi-part checkpoint at $logPath v$cv not named by " +
            "_last_checkpoint — ignoring it (crashed re-checkpoint?)")
        None
      } else try {
        val huge = size.exists(sz => sz >= lazyThreshold || cp.bytes >= lazyThresholdBytes)
        val (count, actions) =
          if (huge) {
            val df = DeltaLog.readParquet(spark, cp.paths)
            (df.count(), decodeActionDf(
              df.where(org.apache.spark.sql.functions.col("add").isNull),
              s"$logPath v$cv (non-add)"))
          } else {
            val acts = readCheckpoint(cp)
            (acts.size.toLong, acts)
          }
        if (size.exists(_ != count)) {
          DeltaLog.log.warn(
            s"Checkpoint at $logPath v$cv holds $count actions but " +
              s"_last_checkpoint records ${size.get} — ignoring it (crashed " +
              "re-checkpoint or partially-decodable foreign layout)")
          None
        } else {
          val replay = new LogReplay
          actions.foreach(replay.apply)
          if (huge) replay.keepAddsIn(cp.paths)
          Some(cv -> replay)
        }
      } catch { case NonFatal(e) =>
        DeltaLog.log.warn(s"Checkpoint at $logPath v$cv unreadable — skipping it", e)
        None
      }
    }.nextOption().getOrElse(-1L -> new LogReplay)
  }

  /** Adds in a classic checkpoint beyond which snapshot state stays as a
    * Dataset ([[LazySnapshot]]) instead of a driver-side Seq. Default 10⁶:
    * eager replay is proven cheap to 1M adds (ReplayBench), and below that
    * the eager in-memory prune is faster per query; above it the driver's
    * heap — O(#adds × ~500 B) — becomes the limiting resource and the
    * Dataset-backed state trades planning latency for bounded memory. */
  private def lazyThreshold: Long =
    try spark.conf.get("spark.graft.lazySnapshot.minActions", "1000000").toLong
    catch { case _: Exception => 1000000L }

  /** Byte-size companion to [[lazyThreshold]]: a checkpoint whose parquet
    * exceeds this (default 256 MB) goes lazy even when its ACTION count is
    * modest — few-files-but-huge-stats tables (1000-column schemas, giant
    * min/max strings) would otherwise materialize all of it on the
    * driver. */
  private def lazyThresholdBytes: Long =
    try spark.conf.get("spark.graft.lazySnapshot.minBytes",
      (256L * 1024 * 1024).toString).toLong
    catch { case _: Exception => 256L * 1024 * 1024 }

  /**
   * Snapshot including a LOG TAIL: extra commit JSON files that may live
   * OUTSIDE `_delta_log` — not-yet-committed commits fed into snapshot
   * construction (the reference's `log_tail` scan/attach option,
   * delta_extension.cpp:55-57, plumbing delta_utils.cpp:833-888; it exists
   * for catalog-managed commits where the newest commits are served by a
   * catalog service instead of the log directory).
   *
   * Each tail file must be named `NNNNNNNNNNNNNNNNNNNN.json` (versions come
   * from the names, as in the log itself). Entries at or below the listed
   * latest version (commit or checkpoint) are ignored — those versions are
   * already committed and the log is authoritative. The remainder must
   * extend the log contiguously (same guard as replay) and folds onto the
   * latest snapshot without materializing a checkpoint-backed file list.
   * The result is NEVER cached: tail state is not the table's committed
   * state, and a later real commit of the same version must win.
   */
  def snapshotWithLogTail(tailFiles: Seq[Path]): Snapshot = {
    val parsed = tailFiles.map { p =>
      p.getName match {
        case LogListing.CommitRe(v) => v.toLong -> p
        case other => throw new IllegalArgumentException(
          s"logTail entry is not a commit JSON (<version>.json): $other")
      }
    }.sortBy(_._1)
    require(parsed.map(_._1).distinct.size == parsed.size,
      s"logTail has duplicate versions: ${parsed.map(_._1).mkString(", ")}")
    val l = listing()
    val newer = parsed.filter { case (v, _) => l.latest.forall(v > _) }
    if (newer.isEmpty) return tip(l)
    val from = l.latest.getOrElse(-1L)
    require(DeltaLog.missing(newer.map(_._1).toSet, from, newer.last._1).isEmpty,
      s"logTail does not extend the log contiguously after " +
        s"v$from: have ${newer.map(_._1).mkString(", ")}")
    val replay = l.latest.fold(new LogReplay)(_ => LogReplay.fromSnapshot(tip(l)))
    val conf = spark.sessionState.newHadoopConf()
    newer.foreach { case (_, p) =>
      ActionJson.parseAll(DeltaLog.readText(p.getFileSystem(conf), p)).foreach(replay.apply)
    }
    replay.toSnapshot(this, newer.last._1)
  }

  def readCommit(v: Long): Seq[Action] = ActionJson.parseAll(DeltaLog.readText(fs, commitFile(v)))

  /** (version, timestamp, operation, engineInfo) per commit, LATEST first
    * — the single source for DESCRIBE-HISTORY-style surfaces. Parses only
    * each commit's commitInfo line, not its add/remove actions (history on
    * a table with large commits must not be O(total log bytes parsed)). */
  def commitHistory(): Seq[(Long, Long, String, String, Map[String, String])] =
    listCommitVersions().sorted.reverse.map { v =>
      val ci = ActionJson.parseDocuments(DeltaLog.readText(fs, commitFile(v))).iterator
        .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
        .nextOption()
      (v,
        ci.flatMap(n => Option(n.get("inCommitTimestamp"))).map(_.asLong(0L))
          .orElse(ci.flatMap(n => Option(n.get("timestamp"))).map(_.asLong(0L)))
          .getOrElse(0L),
        ci.flatMap(n => Option(n.get("operation"))).map(_.asText("")).getOrElse(""),
        ci.flatMap(n => Option(n.get("engineInfo"))).map(_.asText("")).getOrElse(""),
        ci.flatMap(n => Option(n.get("operationMetrics"))).filterNot(_.isNull)
          .map { m =>
            import scala.jdk.CollectionConverters._
            m.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
          }.getOrElse(Map.empty[String, String]))
    }

  /** Checkpoint at `v` → actions. A uuid-named V2 manifest wins over a
    * classic checkpoint for the same version (readers that understand v2
    * should prefer it per protocol); classic 1..n-part parquet otherwise. */
  def readCheckpoint(v: Long): Seq[Action] = readCheckpoint(
    listing().checkpoints.getOrElse(v, throw new IllegalArgumentException(
      s"No complete checkpoint for version $v in $logPath")))

  private def readCheckpoint(cp: CheckpointRef): Seq[Action] = cp.manifest match {
    case Some(m) => readV2Checkpoint(cp.version, m)
    case None =>
      decodeActionDf(DeltaLog.readParquet(spark, cp.paths), s"$logPath v${cp.version}")
  }

  /** V2 checkpoint: the manifest (json lines or parquet) holds
    * protocol/metaData/txn/domainMetadata plus `checkpointMetadata` and
    * `sidecar` pointers; the file actions (add/remove) live either inline
    * or in `_delta_log/_sidecars/<name>.parquet` files. */
  private def readV2Checkpoint(v: Long, manifest: Path): Seq[Action] = {
    import org.apache.spark.sql.functions.col
    val (actions, sidecars) =
      if (manifest.getName.endsWith(".json")) {
        val nodes = ActionJson.parseDocuments(DeltaLog.readText(fs, manifest))
        validateCheckpointMetadata(v, manifest,
          nodes.find(_.has("checkpointMetadata"))
            .map(_.get("checkpointMetadata").get("version").asLong))
        val scs = nodes.filter(_.has("sidecar")).map(_.get("sidecar").get("path").asText)
        (nodes.flatMap(ActionJson.fromNode), scs) // sidecar/cpMeta lines drop out
      } else {
        val df = DeltaLog.readParquet(spark, Seq(manifest))
        val cols = df.columns.toSet
        validateCheckpointMetadata(v, manifest,
          if (!cols.contains("checkpointMetadata")) None
          else df.select(col("checkpointMetadata.version"))
            .where(col("checkpointMetadata").isNotNull)
            .collect().headOption.map(_.getLong(0)))
        val scs =
          if (!cols.contains("sidecar")) Nil
          else df.select(col("sidecar.path")).where(col("sidecar").isNotNull)
            .collect().map(_.getString(0)).toSeq
        val plain = Seq("sidecar", "checkpointMetadata").filter(cols.contains)
          .foldLeft(df)((d, c) => d.where(col(c).isNull).drop(c))
        (decodeActionDf(plain, manifest.toString), scs)
      }
    if (sidecars.isEmpty) actions
    else actions ++ decodeActionDf(
      DeltaLog.readParquet(spark, sidecars.map(resolveSidecarPath)),
      s"${manifest.getName} sidecars")
  }

  /** Sidecar `path` is a URL-encoded file name relative to
    * `_delta_log/_sidecars/`, or an absolute URI. */
  private def resolveSidecarPath(raw: String): Path = {
    val decoded = Actions.percentDecode(raw)
    if (decoded.startsWith("/") || decoded.contains("://")) new Path(decoded)
    else new Path(new Path(logPath, "_sidecars"), decoded)
  }

  private def validateCheckpointMetadata(
      v: Long, manifest: Path, declared: Option[Long]): Unit =
    declared.foreach { dv =>
      require(dv == v,
        s"V2 checkpoint $manifest declares checkpointMetadata.version=$dv " +
          s"but is named for version $v — refusing a misplaced manifest")
    }

  /** Action-shaped DataFrame (checkpoint parts, v2 manifests, sidecars) →
    * actions, decoded as a TYPED Dataset (no per-row JSON render/parse
    * round-trip — at millions of add actions that was the snapshot
    * bottleneck). Shapes the encoder can't resolve fall back to the JSON
    * path. */
  private def decodeActionDf(df: org.apache.spark.sql.DataFrame, what: String): Seq[Action] =
    try DeltaLog.actionFrame(df).as[Action](DeltaLog.actionEncoder)
      .collect().toSeq
    catch {
      // AnalysisException: encoder can't resolve the layout at all.
      // SparkException/RuntimeException: layout resolves but value-level
      // decode fails at collect time (foreign writer's nested shapes).
      // Either way: tolerate anything JSON-expressible — but LOUDLY, so a
      // decode regression in our own writer degrades visibly, not silently
      // (the checkpoint choice additionally rejects a lossy decode).
      case NonFatal(e) =>
        DeltaLog.log.warn(
          s"Typed checkpoint decode failed for $what " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "falling back to JSON-path decode", e)
        DeltaLog.restoreParsedStructs(df).toJSON.collect().toSeq.flatMap(ActionJson.parseLine)
    }

  def invalidateCache(): Unit = synchronized {
    cachedLatest = None
    versionCache.clear()
  }

  /** Auto-checkpoint after a successful commit, every
    * `delta.checkpointInterval` versions (default 10, delta-spark's
    * default; <= 0 disables). Failures never fail the commit that
    * triggered them — the checkpoint is a replay accelerator, not part
    * of the transaction. At 100 TB this is what keeps log replay O(1)
    * commits instead of O(history): without it a long-lived table
    * replays thousands of JSON files per snapshot. */
  def maybeAutoCheckpoint(version: Long,
      configuration: Map[String, String]): Unit = {
    val interval = configuration.get("delta.checkpointInterval")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    if (interval > 0 && version > 0 && version % interval == 0)
      try Checkpoints.checkpoint(this)
      catch { case NonFatal(e) =>
        DeltaLog.log.warn(s"auto-checkpoint at $version failed for $tablePath", e)
      }
  }
}

object DeltaLog {
  private[delta] val log = org.slf4j.LoggerFactory.getLogger(classOf[DeltaLog])
  private val cache = new ConcurrentHashMap[String, DeltaLog]()

  def ictEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))

  /** Time-travel timestamp literal → epoch millis: bare digits are millis,
    * anything else parses as a SQL timestamp string IN THE SESSION TIMEZONE
    * (`spark.sql.session.timeZone`) — the same resolution delta-spark uses
    * for `timestampAsOf`, so results don't vary with the host JVM's default
    * zone. An explicit zone suffix in the literal ('…Z', '…+02:00') wins
    * over the session zone. ONE parser shared by the format read options,
    * the CDF boundaries and the delta_scan table function — extending the
    * accepted formats must not diverge per surface. */
  def parseTimestampMillis(spark: SparkSession, ts: String): Long =
    ts.toLongOption.getOrElse {
      val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
        spark.sessionState.conf.sessionLocalTimeZone)
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(ts), zone)
        .map(micros => Math.floorDiv(micros, 1000L))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse timestamp literal '$ts'"))
    }

  /** The one file reader: a whole (small) log file as UTF-8 text. */
  private[delta] def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** The one contiguity guard: the versions in (from, to] that `have`
    * lacks. Replay from a base at `from` to `to` needs every one of them;
    * callers fail loudly on a non-empty result. */
  private[delta] def missing(have: Long => Boolean, from: Long, to: Long): Seq[Long] =
    ((from + 1) to to).filterNot(have)

  /** Foreign checkpoints may carry per-file stats as a TYPED STRUCT
    * (`add.stats_parsed`, written under `delta.checkpoint.writeStatsAsStruct`)
    * with the JSON `stats` string null or absent (`writeStatsAsJson=false` —
    * the reference's DAT `stats_as_struct` table, test/sql/dat/all.test).
    * Our snapshot keeps the protocol's JSON form, so without this the table
    * still READ correctly but silently lost file skipping. Render the struct
    * back to the JSON string (and `partitionValues_parsed` back to the
    * canonical string map) before decode; the rendered form also survives
    * the JSON fallback path. Eager decode and [[LazySnapshot]]'s adds
    * Dataset both go through this. */
  private[delta] def restoreParsedStructs(df0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, from_json, lit, struct, to_json, when}
    import org.apache.spark.sql.types.{MapType, StringType, StructType}
    if (!df0.columns.contains("add")) return df0
    val addType = df0.schema("add").dataType match {
      case s: StructType => s
      case _ => return df0
    }
    val names = addType.fieldNames.toSet
    if (!names.contains("stats_parsed") && !names.contains("partitionValues_parsed"))
      return df0
    def field(n: String) = col(s"add.`$n`")
    val statsCol =
      if (!names.contains("stats_parsed"))
        if (names.contains("stats")) field("stats") else lit(null).cast(StringType)
      else {
        val rendered = to_json(field("stats_parsed"))
        if (names.contains("stats")) coalesce(field("stats"), rendered) else rendered
      }
    val pvCol =
      if (!names.contains("partitionValues_parsed"))
        if (names.contains("partitionValues")) field("partitionValues")
        else lit(null).cast(MapType(StringType, StringType))
      else {
        // keep nulls: a missing key and a null partition value differ for
        // partition-column constant injection
        val rendered = from_json(
          to_json(field("partitionValues_parsed"), Map("ignoreNullFields" -> "false")),
          MapType(StringType, StringType))
        if (names.contains("partitionValues")) coalesce(field("partitionValues"), rendered)
        else rendered
      }
    val kept = addType.fields.toIndexedSeq
      .filterNot(f => f.name == "stats_parsed" || f.name == "partitionValues_parsed")
      .map { f =>
        (f.name match {
          case "stats" => statsCol
          case "partitionValues" => pvCol
          case n => field(n)
        }).as(f.name)
      }
    val missing =
      (if (names.contains("stats")) Nil else Seq(statsCol.as("stats"))) ++
        (if (names.contains("partitionValues")) Nil
         else Seq(pvCol.as("partitionValues")))
    df0.withColumn("add",
      when(col("add").isNotNull, struct(kept ++ missing: _*)))
  }

  /** Checkpoint-shaped DataFrame → columns aligned to the [[Action]]
    * encoder: struct stats restored, missing top-level action columns and
    * missing action subfields (e.g. a checkpoint written before row
    * tracking existed has no add.baseRowId) null-filled, so files from
    * other writers decode typed instead of falling back to JSON. */
  private[delta] def actionFrame(df0: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    import org.apache.spark.sql.types.StructType
    val df = restoreParsedStructs(df0)
    df.select(actionEncoder.schema.fields.toIndexedSeq.map { f =>
      if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else (f.dataType, df.schema(f.name).dataType) match {
        case (want: StructType, have: StructType)
            if !want.fieldNames.forall(have.fieldNames.contains) =>
          when(col(f.name).isNotNull, struct(want.fields.toIndexedSeq.map { sf =>
            if (have.fieldNames.contains(sf.name)) col(s"${f.name}.`${sf.name}`").as(sf.name)
            else lit(null).cast(sf.dataType).as(sf.name)
          }: _*)).as(f.name)
        case _ => col(f.name)
      }
    }: _*)
  }

  /** The one [[Action]] encoder. Deriving it reflects over the whole
    * action model (~60 ms), so every typed action decode and checkpoint
    * write shares this instance. */
  private[delta] lazy val actionEncoder: org.apache.spark.sql.Encoder[Action] =
    org.apache.spark.sql.Encoders.product[Action]

  /** Checkpoint-shaped parquet files (classic parts, V2 manifests,
    * sidecars) as a DataFrame whose schema is the first file's footer,
    * read on the driver. That is the schema Spark itself takes without a
    * schema merge — its `org.apache.spark.sql.parquet.row.metadata` key,
    * else the parquet schema converted under the session conf — minus the
    * Spark job it runs to infer it. */
  private[delta] def readParquet(spark: SparkSession, paths: Seq[Path])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types.{DataType, StructType}
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(paths.head, spark.sessionState.newHadoopConf()))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    val schema = Option(meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
    spark.read.schema(schema).parquet(paths.map(_.toString): _*)
  }

  def forPath(spark: SparkSession, path: String): DeltaLog = {
    val p = new Path(path)
    // keyed by (session identity, path): a DeltaLog carries its creating
    // session into every scan it plans, so two sessions sharing one cached
    // log would silently run one session's queries with the other's state
    val key = s"${System.identityHashCode(spark)}:$p"
    cache.computeIfAbsent(key, _ => new DeltaLog(spark, p))
  }

  def clearCache(): Unit = cache.clear()
}

/**
 * What one `_delta_log` listing says: commit versions, complete
 * checkpoints and every V2 manifest.
 *
 * A checkpoint version counts when it has a single-part file, a
 * multi-part `NNN.checkpoint.i.n.parquet` set with all n parts present, or
 * a uuid-named V2 manifest. Part sets are grouped by their `of` count and
 * only a COMPLETE set is kept — a leftover part from a different-shaped
 * prior checkpoint (crash during re-checkpoint) is never unioned in; among
 * complete sets the largest part count wins (the newest write in
 * practice), and a single-part file wins over any set.
 */
private[delta] final class LogListing(files: Seq[FileStatus]) {
  import LogListing._

  val commits: Vector[Long] = files.flatMap(f => f.getPath.getName match {
    case CommitRe(v) => Some(v.toLong)
    case _ => None
  }).sorted.toVector

  private val commitSet = commits.toSet
  def hasCommit(v: Long): Boolean = commitSet.contains(v)

  /** Every uuid-named V2 manifest (all attempts, all versions) by name. */
  val manifests: Seq[(Long, Path)] = files.map(_.getPath).flatMap { p =>
    p.getName match {
      case UuidCheckpointRe(v, _, _) => Some(v.toLong -> p)
      case _ => None
    }
  }.sortBy(_._2.getName)

  val checkpoints: SortedMap[Long, CheckpointRef] = {
    val singles = files.collect {
      case f if CheckpointRe.matches(f.getPath.getName) =>
        f.getPath.getName.take(20).toLong -> Seq(f)
    }.toMap
    val partSets = files.flatMap(f => f.getPath.getName match {
      case CheckpointPartRe(v, _, of) => Some((v.toLong, of.toInt) -> f)
      case _ => None
    }).groupMap(_._1)(_._2).collect {
      case ((v, of), parts) if parts.size == of => v -> parts.sortBy(_.getPath.getName)
    }.groupMapReduce(_._1)(_._2)((a, b) => if (b.size > a.size) b else a)
    // each manifest is a single atomic file from one writer attempt; when
    // several exist all are equivalent per protocol, and the
    // lexicographically last wins for determinism
    val manifest = manifests.groupMapReduce(_._1)(_._2)((_, b) => b)
    SortedMap.from((singles.keySet ++ partSets.keySet ++ manifest.keySet).map { v =>
      v -> CheckpointRef(v, manifest.get(v),
        singles.getOrElse(v, partSets.getOrElse(v, Nil)), singles.contains(v))
    })
  }

  /** Newest version the log holds, as a commit or a checkpoint. */
  def latest: Option[Long] = (commits.lastOption ++ checkpoints.lastOption.map(_._1)).maxOption
}

private[delta] object LogListing {
  val CommitRe = raw"(\d{20})\.json".r
  val CheckpointRe = raw"(\d{20})\.checkpoint\.parquet".r
  val CheckpointPartRe = raw"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet".r
  // V2 checkpoint manifest: uuid-named, single atomic file, json or parquet
  // (protocol `v2Checkpoint` reader feature — the kernel the reference embeds
  // reads these; graft writes classic checkpoints but must READ v2 tables)
  val UuidCheckpointRe = raw"(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(json|parquet)".r
}

/** A complete checkpoint: its V2 manifest, which wins when present
  * (readers that understand v2 should prefer it per protocol), and its
  * classic parquet files. A multi-part set (no single file, no manifest)
  * can be a crash-mixed set, so it is trusted only when `_last_checkpoint`
  * names it. */
private[delta] final case class CheckpointRef(version: Long, manifest: Option[Path],
    parts: Seq[FileStatus], single: Boolean) {
  def multiPart: Boolean = manifest.isEmpty && !single
  def paths: Seq[Path] = parts.map(_.getPath)
  def bytes: Long = parts.map(_.getLen).sum
}

/**
 * Forward log replay with add/remove reconciliation, keyed by URL-decoded
 * file path (reference reconciliation in delta-kernel; path decode at
 * delta_multi_file_list.cpp:26-42) — the one fold behind every snapshot.
 *
 * The base is in memory (`adds` holds the whole file list) or, after
 * [[keepAddsIn]], a checkpoint whose adds stay in parquet: then `adds`
 * holds only later adds, and `shadowed` every path a later add or remove
 * touched — the checkpoint's entry for it is dead ([[LazySnapshot]]).
 */
private[delta] class LogReplay {
  var protocol: Protocol = Protocol()
  var metadata: Metadata = _
  val adds = new mutable.LinkedHashMap[String, AddFile]
  // latest-action-wins per path: a remove tombstones the path until a
  // later add resurrects it; retained so checkpoints can carry unexpired
  // tombstones per delta.deletedFileRetentionDuration
  val tombstones = new mutable.LinkedHashMap[String, RemoveFile]
  val txns = new mutable.HashMap[String, Long]
  val domains = new mutable.LinkedHashMap[String, DomainMetadata]
  private var checkpointAdds: Option[Seq[Path]] = None
  private val shadowed = mutable.Set.empty[String]

  /** From here on the base's adds are the ones in checkpoint `parts`. */
  def keepAddsIn(parts: Seq[Path]): Unit = checkpointAdds = Some(parts)

  def apply(a: Action): Unit = {
    a.protocol.foreach(protocol = _)
    a.metaData.foreach(metadata = _)
    a.add.foreach { f =>
      adds.put(f.decodedPath, f); tombstones.remove(f.decodedPath); shadow(f.decodedPath)
    }
    a.remove.foreach { r =>
      adds.remove(r.decodedPath); tombstones.put(r.decodedPath, r); shadow(r.decodedPath)
    }
    a.txn.foreach(t => txns.put(t.appId, t.version))
    a.domainMetadata.foreach { d =>
      if (d.removed) domains.remove(d.domain) else domains.put(d.domain, d)
    }
  }

  private def shadow(path: String): Unit = if (checkpointAdds.isDefined) shadowed += path

  def toSnapshot(log: DeltaLog, version: Long): Snapshot = {
    require(metadata != null, s"No metaData action found replaying ${log.tablePath} @ $version")
    ProtocolGate.validate(protocol, log.tablePath.toString)
    checkpointAdds match {
      case None => new Snapshot(log, version, protocol, metadata, adds.values.toVector,
        txns.toMap, domains.values.toVector, tombstones.values.toVector)
      case Some(parts) => new LazySnapshot(log, version, protocol, metadata, parts,
        adds.values.toVector, shadowed.toSet, txns.toMap, domains.values.toVector,
        tombstones.values.toVector)
    }
  }
}

private[delta] object LogReplay {
  /** Seeds a replay with `s`; a [[LazySnapshot]]'s adds stay in parquet. */
  def fromSnapshot(s: Snapshot): LogReplay = {
    val r = new LogReplay
    r.protocol = s.protocol
    r.metadata = s.metadata
    s match {
      case l: LazySnapshot =>
        r.keepAddsIn(l.checkpointPaths)
        l.tailAdds.foreach(f => r.adds.put(f.decodedPath, f))
        r.shadowed ++= l.shadowed
      case _ => s.allFiles.foreach(f => r.adds.put(f.decodedPath, f))
    }
    s.tombstones.foreach(t => r.tombstones.put(t.decodedPath, t))
    r.txns ++= s.setTransactions
    s.domainMetadata.foreach(d => r.domains.put(d.domain, d))
    r
  }
}
