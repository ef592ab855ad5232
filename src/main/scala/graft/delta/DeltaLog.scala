package graft.delta

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
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
  private val versionCache = new ConcurrentHashMap[Long, Snapshot]()

  def tableExists: Boolean = fs.exists(logPath) &&
    (listCommitVersions().nonEmpty || listCheckpointVersions().nonEmpty)

  // ---------------- log listing ----------------

  private val commitRe = raw"(\d{20})\.json".r
  private val checkpointRe = raw"(\d{20})\.checkpoint\.parquet".r
  private val checkpointPartRe = raw"(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet".r
  // V2 checkpoint manifest: uuid-named, single atomic file, json or parquet
  // (protocol `v2Checkpoint` reader feature — the kernel the reference embeds
  // reads these; graft writes classic checkpoints but must READ v2 tables)
  private val uuidCheckpointRe = raw"(\d{20})\.checkpoint\.([0-9a-fA-F-]{36})\.(json|parquet)".r

  def commitFile(v: Long): Path = new Path(logPath, f"$v%020d.json")
  def checkpointFile(v: Long): Path = new Path(logPath, f"$v%020d.checkpoint.parquet")
  def checkpointPartFile(v: Long, part: Int, of: Int): Path =
    new Path(logPath, f"$v%020d.checkpoint.$part%010d.$of%010d.parquet")

  def listCommitVersions(): Seq[Long] = {
    if (!fs.exists(logPath)) return Nil
    fs.listStatus(logPath).toSeq.flatMap { st =>
      st.getPath.getName match {
        case commitRe(v) => Some(v.toLong)
        case _ => None
      }
    }.sorted
  }

  /** Versions with a COMPLETE checkpoint: a single-part file, a multi-part
    * `NNN.checkpoint.i.n.parquet` set with all n parts present, or a
    * uuid-named V2 manifest (atomic by construction). */
  def listCheckpointVersions(): Seq[Long] = {
    if (!fs.exists(logPath)) return Nil
    val names = fs.listStatus(logPath).toSeq.map(_.getPath.getName)
    val singles = names.collect { case checkpointRe(v) => v.toLong }
    val multis = names.collect {
      case checkpointPartRe(v, _, of) => (v.toLong, of.toInt)
    }.groupBy(identity).collect {
      case ((v, of), parts) if parts.size == of => v
    }
    val uuids = names.collect { case uuidCheckpointRe(v, _, _) => v.toLong }
    (singles ++ multis ++ uuids).distinct.sorted
  }

  /** V2 (uuid-named) checkpoint manifest for `v`, if any. Each manifest is a
    * single atomic file from exactly one writer attempt, so — unlike classic
    * multi-part sets — it is trusted without the `_last_checkpoint` pointer
    * and cannot be a crash-mixed set. When several attempts exist all are
    * equivalent per protocol; the lexicographically last wins for
    * determinism. */
  private[delta] def uuidManifest(v: Long): Option[Path] = {
    if (!fs.exists(logPath)) return None
    val prefix = f"$v%020d.checkpoint."
    fs.listStatus(logPath).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && uuidCheckpointRe.matches(p.getName))
      .sortBy(_.getName).lastOption
  }

  /** Every uuid-named V2 manifest in the log, as (version, path) — all
    * attempts, all versions. Cleanup ref-counts sidecars against these. */
  private[delta] def listUuidManifests(): Seq[(Long, Path)] = {
    if (!fs.exists(logPath)) return Nil
    fs.listStatus(logPath).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case uuidCheckpointRe(v, _, _) => Some(v.toLong -> p)
        case _ => None
      }
    }.sortBy(_._2.getName)
  }

  /** Sidecar files a V2 manifest references, resolved to absolute paths —
    * the ref-count set for `_sidecars` garbage collection. Reads only the
    * `sidecar` column (json lines or parquet), not the file actions. */
  private[delta] def manifestSidecarPaths(manifest: Path): Seq[Path] = {
    import org.apache.spark.sql.functions.col
    val raw: Seq[String] =
      if (manifest.getName.endsWith(".json")) {
        val in = fs.open(manifest)
        val txt =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
          finally in.close()
        ActionJson.parseDocuments(txt)
          .filter(n => n.has("sidecar") && !n.get("sidecar").isNull)
          .map(_.get("sidecar").get("path").asText)
      } else {
        val df = spark.read.parquet(manifest.toString)
        if (!df.columns.contains("sidecar")) Nil
        else df.select(col("sidecar.path")).where(col("sidecar").isNotNull)
          .collect().map(_.getString(0)).toSeq
      }
    raw.map(resolveSidecarPath)
  }

  /** All parquet files of the checkpoint at `v` (1 or n parts). Part sets
    * are grouped by their `of` count and only a COMPLETE set is returned —
    * a leftover part from a different-shaped prior checkpoint (crash during
    * re-checkpoint) is never unioned in. */
  def checkpointFiles(v: Long): Seq[Path] = {
    val single = checkpointFile(v)
    if (fs.exists(single)) return Seq(single)
    val prefix = f"$v%020d.checkpoint."
    val parts = fs.listStatus(logPath).toSeq
      .map(_.getPath)
      .filter(p => checkpointPartRe.matches(p.getName) && p.getName.startsWith(prefix))
    val complete = parts.groupBy { p =>
      p.getName match { case checkpointPartRe(_, _, of) => of.toInt }
    }.collect { case (of, ps) if ps.size == of => ps.sortBy(_.getName) }
    require(complete.nonEmpty, s"No complete checkpoint part set for version $v in $logPath")
    // prefer the largest part count (the newest write wins ties in practice)
    complete.maxBy(_.size)
  }

  /** `_last_checkpoint` pointer, if present. */
  def lastCheckpointVersion(): Option[Long] = lastCheckpointInfo().map(_._1)

  /** `_last_checkpoint` (version, size-if-recorded). `size` is the action
    * count the writer put in the checkpoint — used to reject a MIXED part
    * set left by a crash during a same-part-count re-checkpoint (the part
    * names collide, so completeness alone can't tell the sets apart). */
  def lastCheckpointInfo(): Option[(Long, Option[Long])] = {
    val p = new Path(logPath, "_last_checkpoint")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val txt = new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      val root = ActionJson.mapper.readTree(txt)
      Option(root.get("version")).map(v =>
        (v.asLong, Option(root.get("size")).map(_.asLong)))
    } catch { case _: Exception => None } finally in.close()
  }

  // ---------------- snapshot construction ----------------

  /** Latest snapshot, incrementally replayed on top of the cached one when
    * possible (reference "snapshot hint" behavior). A LazySnapshot is
    * rebuilt from its checkpoint instead (cheap — no file-list collect);
    * replaying on top of it would force full materialization. */
  def update(): Snapshot = synchronized {
    val versions = listCommitVersions()
    // a log whose every commit JSON at or below the checkpoint was
    // retention-cleaned (delta's metadata-cleanup steady state, and what
    // foreign cleaners produce) is still a table: the checkpoint IS the
    // latest state when no JSON outranks it
    val ckptLatest = listCheckpointVersions().lastOption
    if (versions.isEmpty && ckptLatest.isEmpty)
      throw new IllegalStateException(s"Not a Delta table (no _delta_log): $tablePath")
    val latest = (versions.lastOption.toSeq ++ ckptLatest).max
    // incremental replay needs every JSON in (cached, latest] — after a
    // retention cleanup (ours or a foreign cleaner's) those may be gone
    // with only the checkpoint covering them, so fall through to a full
    // checkpoint-based rebuild instead of replaying a gapped tail
    def tailCovers(from: Long): Boolean =
      versions.filter(_ > from) == ((from + 1) to latest)
    cachedLatest match {
      case Some(s) if s.version == latest => s
      case Some(s) if s.version < latest && !s.isInstanceOf[LazySnapshot] &&
          tailCovers(s.version) =>
        val snap = replayOnTop(s, versions.filter(_ > s.version))
        cachedLatest = Some(snap); versionCache.put(latest, snap); snap
      case _ =>
        val snap = snapshotAt(latest)
        cachedLatest = Some(snap); snap
    }
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
          catch { case scala.util.control.NonFatal(_) => -1L }
      Some(math.max(System.currentTimeMillis(), prev + 1))
    }

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
  def snapshotAt(version: Long): Snapshot = {
    val cached = versionCache.get(version)
    if (cached != null) return cached
    val versions = listCommitVersions()
    // a version may exist only as a checkpoint: retention cleanup (ours or
    // a foreign cleaner's) deletes commit JSONs the checkpoint covers
    if (!versions.contains(version) && !listCheckpointVersions().contains(version))
      throw new IllegalArgumentException(
        s"Version $version not found for table $tablePath (have ${versions.headOption.getOrElse(-1L)}..${versions.lastOption.getOrElse(-1L)})")
    // Very large classic checkpoints build a Dataset-backed snapshot: the
    // driver decodes only the non-add actions + the JSON tail; the file
    // list stays in the checkpoint parquet and scans prune it distributed
    // (LazySnapshot). Any failure falls through to the eager path.
    buildLazyIfHuge(version, versions).foreach { snap =>
      versionCache.put(version, snap)
      return snap
    }
    // Start from the newest VALID checkpoint at or below the target version.
    // Multi-part part names are protocol-fixed, so a crash during a
    // same-part-count re-checkpoint can leave a MIXED old/new set that is
    // complete BY NAME; the writer retracts `_last_checkpoint` around the
    // rename window, so a multi-part set is only trusted when the pointer
    // names it — and when the pointer records an action count, a decode
    // mismatch additionally disqualifies. A disqualified or unreadable
    // candidate falls back to the next-older checkpoint, then JSON replay.
    val pointer = lastCheckpointInfo()
    val cpCandidates = listCheckpointVersions().filter(_ <= version).reverse
    val (cpVersion, base): (Option[Long], Seq[Action]) = cpCandidates.iterator
      .filter { cv =>
        fs.exists(checkpointFile(cv)) || uuidManifest(cv).isDefined || (pointer match {
          case Some((ev, _)) if ev == cv => true
          case _ =>
            DeltaLog.log.warn(
              s"Multi-part checkpoint at $logPath v$cv not named by " +
                "_last_checkpoint — ignoring it (crashed re-checkpoint?)")
            false
        })
      }
      .flatMap { cv =>
        try Some(cv -> readCheckpoint(cv))
        catch { case scala.util.control.NonFatal(e) =>
          DeltaLog.log.warn(
            s"Checkpoint at $logPath v$cv unreadable — skipping it", e)
          None
        }
      }
      .find { case (cv, acts) =>
        pointer match {
          // uuid manifests are attempt-unique (no mixed-set crash mode) and
          // foreign writers disagree on whether `size` counts sidecar file
          // actions, so the count check applies to classic checkpoints only
          case Some((ev, Some(sz)))
              if ev == cv && acts.size != sz && uuidManifest(cv).isEmpty =>
            DeltaLog.log.warn(
              s"Checkpoint at $logPath v$cv decoded ${acts.size} actions but " +
                s"_last_checkpoint records $sz — ignoring it (crashed " +
                "re-checkpoint or partially-decodable foreign layout)")
            false
          case _ => true
        }
      } match {
        case Some((cv, acts)) => (Some(cv), acts)
        case None => (None, Nil)
      }
    // Contiguity guard: the replay basis is [checkpoint at cp] + every
    // commit in (cp, version]. A hole in that range (mid-range commit
    // deleted by an unsafe cleaner, partial copy) must fail loudly — a
    // gapped replay can "succeed" whenever a surviving commit re-emits
    // metaData (e.g. SET TBLPROPERTIES) and then silently returns wrong
    // table state.
    val replayRange = (cpVersion.getOrElse(-1L) + 1) to version
    val have = versions.toSet
    val missing = replayRange.filterNot(have.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"Cannot reconstruct $tablePath at version $version: commit file(s) " +
          s"${missing.take(5).mkString(", ")}${if (missing.size > 5) ", …" else ""} " +
          s"missing between checkpoint ${cpVersion.getOrElse(-1L)} and the target " +
          "(expired-log cleanup past this version, or a partially copied log)")
    val replay = new LogReplay
    base.foreach(replay.apply)
    versions.filter(v => v > cpVersion.getOrElse(-1L) && v <= version)
      .foreach(v => readCommit(v).foreach(replay.apply))
    val snap = replay.toSnapshot(this, version)
    versionCache.put(version, snap)
    snap
  }

  private def replayOnTop(base: Snapshot, newerVersions: Seq[Long]): Snapshot = {
    // same contiguity contract as snapshotAt: a hole between the cached
    // snapshot and the tip must not be silently replayed through
    val expected = (base.version + 1) to newerVersions.last
    require(newerVersions == expected,
      s"Non-contiguous commits after v${base.version} at $tablePath: " +
        s"have ${newerVersions.mkString(",")}")
    val replay = LogReplay.fromSnapshot(base)
    newerVersions.foreach(v => readCommit(v).foreach(replay.apply))
    replay.toSnapshot(this, newerVersions.last)
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

  /** Build a [[LazySnapshot]] when `_last_checkpoint` names a huge classic
    * checkpoint at or below `version` — huge by action count OR by parquet
    * bytes. None → use the eager path. The pointer's recorded action count
    * is validated against the checkpoint's parquet row count
    * (metadata-only) — the same mixed-set defense the eager path gets from
    * decoding. */
  private def buildLazyIfHuge(version: Long, versions: Seq[Long]): Option[Snapshot] = {
    def checkpointBytes(cv: Long): Long =
      try checkpointFiles(cv).map(p => fs.getFileStatus(p).getLen).sum
      catch { case scala.util.control.NonFatal(_) => 0L }
    lastCheckpointInfo() match {
      case Some((cv, Some(sz)))
          if cv <= version && uuidManifest(cv).isEmpty &&
            (sz >= lazyThreshold || checkpointBytes(cv) >= lazyThresholdBytes) =>
        try {
          val paths = checkpointFiles(cv)
          val df = spark.read.parquet(paths.map(_.toString): _*)
          val rowCount = df.count()
          if (rowCount != sz) {
            DeltaLog.log.warn(
              s"Checkpoint at $logPath v$cv has $rowCount rows but " +
                s"_last_checkpoint records $sz — not using the lazy path")
            return None
          }
          // non-add actions are few: protocol/metaData/txn/domainMetadata
          // (+ remove tombstones) — decode driver-side
          val nonAdd = decodeActionDf(
            df.where(org.apache.spark.sql.functions.col("add").isNull),
            s"$logPath v$cv (lazy, non-add)")
          val replay = new LogReplay
          nonAdd.foreach(a => replay.apply(a.copy(remove = None)))
          // Checkpoint-held remove tombstones must flow into the NEXT
          // checkpoint within delta.deletedFileRetentionDuration: dropping
          // them here would silently expire every tombstone one checkpoint
          // cycle early on exactly the ≥10⁶-action tables this path exists
          // for (a foreign VACUUM could then reclaim recently-removed files
          // before retention ends). The expiry FILTER is deferred until
          // after the JSON tail replays: a tail commit may lengthen
          // retention, and cutting with the checkpoint-era window would
          // expire tombstones the final metadata still protects. (nonAdd
          // already holds every remove in driver memory, so deferring
          // costs nothing.)
          val baseTombstones = new mutable.LinkedHashMap[String, RemoveFile]
          nonAdd.flatMap(_.remove)
            .foreach(r => baseTombstones.put(r.decodedPath, r))
          // JSON tail: protocol/metadata/txns/domains apply as usual; file
          // actions reconcile against the checkpoint by decoded path
          val tailAdds = new mutable.LinkedHashMap[String, AddFile]
          val tailRemoves = new mutable.LinkedHashMap[String, RemoveFile]
          val shadowed = mutable.Set.empty[String]
          val tail = versions.filter(v => v > cv && v <= version)
          if (tail != ((cv + 1) to version))
            throw new IllegalStateException(
              s"Non-contiguous commit tail after checkpoint v$cv at $tablePath")
          tail.foreach { v =>
            readCommit(v).foreach { a =>
              a.add.foreach { f =>
                tailAdds.put(f.decodedPath, f); shadowed += f.decodedPath
                tailRemoves.remove(f.decodedPath)
                baseTombstones.remove(f.decodedPath) // re-add resurrects
              }
              a.remove.foreach { r =>
                tailAdds.remove(r.decodedPath); shadowed += r.decodedPath
                tailRemoves.put(r.decodedPath, r)
                baseTombstones.remove(r.decodedPath) // latest remove wins
              }
              replay.apply(a.copy(add = None, remove = None))
            }
          }
          require(replay.metadata != null,
            s"No metaData action in checkpoint $logPath v$cv")
          ProtocolGate.validate(replay.protocol, tablePath.toString)
          // expire checkpoint tombstones under the FINAL (tail-replayed)
          // metadata's retention window; only unexpired ones are carried
          // — expired ones are dead weight by the same contract
          val tombCutoff = System.currentTimeMillis() -
            Checkpoints.parseRetentionMs(
              replay.metadata.configuration.get("delta.deletedFileRetentionDuration"),
              defaultMs = 7L * 24 * 3600 * 1000)
          baseTombstones.filterInPlace(
            (_, r) => r.deletionTimestamp.getOrElse(0L) >= tombCutoff)
          DeltaLog.log.info(
            s"Lazy snapshot for $tablePath @ $version: $sz checkpoint actions, " +
              s"${tailAdds.size} tail adds, ${shadowed.size} shadowed paths, " +
              s"${baseTombstones.size} retained checkpoint tombstones")
          Some(new LazySnapshot(this, version, replay.protocol, replay.metadata,
            paths, tailAdds.values.toSeq, shadowed.toSet,
            replay.txns.toMap, replay.domains.values.toVector,
            (baseTombstones.values ++ tailRemoves.values).toVector))
        } catch {
          case scala.util.control.NonFatal(e) =>
            DeltaLog.log.warn(
              s"Lazy snapshot build failed for $logPath v$cv — falling back to eager", e)
            None
        }
      case _ => None
    }
  }

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
   * latest version are ignored — those versions are already committed and
   * the log is authoritative. The remainder must extend the log
   * contiguously (same guard as replay). The result is NEVER cached: tail
   * state is not the table's committed state, and a later real commit of
   * the same version must win.
   */
  def snapshotWithLogTail(tailFiles: Seq[Path]): Snapshot = {
    val parsed = tailFiles.map { p =>
      p.getName match {
        case commitRe(v) => v.toLong -> p
        case other => throw new IllegalArgumentException(
          s"logTail entry is not a commit JSON (<version>.json): $other")
      }
    }.sortBy(_._1)
    require(parsed.map(_._1).distinct.size == parsed.size,
      s"logTail has duplicate versions: ${parsed.map(_._1).mkString(", ")}")
    val listed = listCommitVersions()
    val base = listed.lastOption
    val newer = parsed.filter { case (v, _) => base.forall(v > _) }
    if (newer.isEmpty) return update()
    val expected = (base.getOrElse(-1L) + 1) to newer.last._1
    require(newer.map(_._1) == expected,
      s"logTail does not extend the log contiguously after " +
        s"v${base.getOrElse(-1L)}: have ${newer.map(_._1).mkString(", ")}")
    val conf = spark.sessionState.newHadoopConf()
    def readTail(p: Path): Seq[Action] = {
      val tfs = p.getFileSystem(conf)
      val in = tfs.open(p)
      val txt =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
        finally in.close()
      ActionJson.parseAll(txt)
    }
    base.map(snapshotAt) match {
      // checkpoint-backed base: fold the tail into a NEW LazySnapshot —
      // LogReplay.fromSnapshot would materialize every add on the driver,
      // the exact thing the lazy path exists to avoid (and log_tail's
      // catalog-served large tables are exactly that shape)
      case Some(ls: LazySnapshot) =>
        ls.withExtraTail(newer.last._1, newer.map { case (_, p) => readTail(p) })
      case baseSnap =>
        val replay = baseSnap.map(LogReplay.fromSnapshot).getOrElse(new LogReplay)
        newer.foreach { case (_, p) => readTail(p).foreach(replay.apply) }
        replay.toSnapshot(this, newer.last._1)
    }
  }

  def readCommit(v: Long): Seq[Action] = {
    val in = fs.open(commitFile(v))
    try {
      val txt = new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      ActionJson.parseAll(txt)
    } finally in.close()
  }

  /** Paths of `cdc` actions in commit `v` (URL-encoded, as written). The
    * action model deliberately omits cdc (state replay skips them), so CDF
    * reads pull them straight off the wire format. */
  /** (version, timestamp, operation, engineInfo) per commit, LATEST first
    * — the single source for DESCRIBE-HISTORY-style surfaces. Parses only
    * each commit's commitInfo line, not its add/remove actions (history on
    * a table with large commits must not be O(total log bytes parsed)). */
  def commitHistory(): Seq[(Long, Long, String, String, Map[String, String])] =
    listCommitVersions().sorted.reverse.map { v =>
      val in = fs.open(commitFile(v))
      val ci =
        try {
          val txt = new String(
            org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
          ActionJson.parseDocuments(txt).iterator
            .flatMap(n => Option(n.get("commitInfo")).filterNot(_.isNull))
            .nextOption()
        } finally in.close()
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

  def readCommitCdcPaths(v: Long): Seq[String] = {
    val in = fs.open(commitFile(v))
    try {
      val txt = new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      ActionJson.parseDocuments(txt).flatMap { n =>
        Option(n.get("cdc")).filterNot(_.isNull).map(_.get("path").asText)
      }
    } finally in.close()
  }

  /** Checkpoint at `v` → actions. A uuid-named V2 manifest wins over a
    * classic checkpoint for the same version (readers that understand v2
    * should prefer it per protocol); classic 1..n-part parquet otherwise. */
  def readCheckpoint(v: Long): Seq[Action] = uuidManifest(v) match {
    case Some(m) => readV2Checkpoint(v, m)
    case None =>
      decodeActionDf(spark.read.parquet(checkpointFiles(v).map(_.toString): _*),
        s"$logPath v$v")
  }

  /** V2 checkpoint: the manifest (json lines or parquet) holds
    * protocol/metaData/txn/domainMetadata plus `checkpointMetadata` and
    * `sidecar` pointers; the file actions (add/remove) live either inline
    * or in `_delta_log/_sidecars/<name>.parquet` files. */
  private def readV2Checkpoint(v: Long, manifest: Path): Seq[Action] = {
    import org.apache.spark.sql.functions.col
    val (actions, sidecars) =
      if (manifest.getName.endsWith(".json")) {
        val in = fs.open(manifest)
        val txt =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
          finally in.close()
        val nodes = ActionJson.parseDocuments(txt)
        validateCheckpointMetadata(v, manifest,
          nodes.find(_.has("checkpointMetadata"))
            .map(_.get("checkpointMetadata").get("version").asLong))
        val scs = nodes.filter(_.has("sidecar")).map(_.get("sidecar").get("path").asText)
        (nodes.flatMap(ActionJson.fromNode), scs) // sidecar/cpMeta lines drop out
      } else {
        val df = spark.read.parquet(manifest.toString)
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
      spark.read.parquet(sidecars.map(resolveSidecarPath(_).toString): _*),
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

  /** Foreign checkpoints may carry per-file stats as a TYPED STRUCT
    * (`add.stats_parsed`, written under `delta.checkpoint.writeStatsAsStruct`)
    * with the JSON `stats` string null or absent (`writeStatsAsJson=false` —
    * the reference's DAT `stats_as_struct` table, test/sql/dat/all.test).
    * Our snapshot keeps the protocol's JSON form, so without this the table
    * still READ correctly but silently lost file skipping. Render the struct
    * back to the JSON string (and `partitionValues_parsed` back to the
    * canonical string map) before decode; the rendered form also survives
    * the JSON fallback path. */
  private def restoreParsedStructs(df0: org.apache.spark.sql.DataFrame)
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

  /** Action-shaped DataFrame (checkpoint parts, v2 manifests, sidecars) →
    * actions, decoded as a TYPED Dataset (no per-row JSON render/parse
    * round-trip — at millions of add actions that was the snapshot
    * bottleneck). Missing top-level action columns are null-filled so files
    * from other writers still load; schema shapes the encoder can't resolve
    * fall back to the JSON path. */
  private def decodeActionDf(df0: org.apache.spark.sql.DataFrame, what: String): Seq[Action] = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = restoreParsedStructs(df0)
    val enc = org.apache.spark.sql.Encoders.product[Action]
    try {
      val aligned = df.select(enc.schema.fields.toIndexedSeq.map { f =>
        if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
        else (f.dataType, df.schema(f.name).dataType) match {
          // null-fill subfields the source lacks (e.g. a checkpoint written
          // before row tracking existed has no add.baseRowId) so the typed
          // decode keeps working instead of falling back to JSON
          case (want: org.apache.spark.sql.types.StructType,
                have: org.apache.spark.sql.types.StructType)
              if !want.fieldNames.forall(have.fieldNames.contains) =>
            org.apache.spark.sql.functions.when(col(f.name).isNotNull,
              org.apache.spark.sql.functions.struct(
                want.fields.toIndexedSeq.map { sf =>
                  if (have.fieldNames.contains(sf.name))
                    col(s"${f.name}.`${sf.name}`").as(sf.name)
                  else lit(null).cast(sf.dataType).as(sf.name)
                }: _*)).as(f.name)
          case _ => col(f.name)
        }
      }: _*)
      aligned.as[Action](enc).collect().toSeq
    } catch {
      // AnalysisException: encoder can't resolve the layout at all.
      // SparkException/RuntimeException: layout resolves but value-level
      // decode fails at collect time (foreign writer's nested shapes).
      // Either way: tolerate anything JSON-expressible — but LOUDLY, so a
      // decode regression in our own writer degrades visibly, not silently
      // (the snapshotAt size check additionally rejects a lossy decode).
      case scala.util.control.NonFatal(e) =>
        DeltaLog.log.warn(
          s"Typed checkpoint decode failed for $what " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "falling back to JSON-path decode", e)
        df.toJSON.collect().toSeq.flatMap(ActionJson.parseLine)
    }
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
      catch { case scala.util.control.NonFatal(e) =>
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

/** Forward log replay with add/remove reconciliation, keyed by URL-decoded
  * file path (reference reconciliation in delta-kernel; path decode at
  * delta_multi_file_list.cpp:26-42). */
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

  def apply(a: Action): Unit = {
    a.protocol.foreach(protocol = _)
    a.metaData.foreach(metadata = _)
    a.add.foreach { f => adds.put(f.decodedPath, f); tombstones.remove(f.decodedPath) }
    a.remove.foreach { r => adds.remove(r.decodedPath); tombstones.put(r.decodedPath, r) }
    a.txn.foreach(t => txns.put(t.appId, t.version))
    a.domainMetadata.foreach { d =>
      if (d.removed) domains.remove(d.domain) else domains.put(d.domain, d)
    }
  }

  def toSnapshot(log: DeltaLog, version: Long): Snapshot = {
    require(metadata != null, s"No metaData action found replaying ${log.tablePath} @ $version")
    ProtocolGate.validate(protocol, log.tablePath.toString)
    new Snapshot(log, version, protocol, metadata, adds.values.toVector,
      txns.toMap, domains.values.toVector, tombstones.values.toVector)
  }
}

private[delta] object LogReplay {
  def fromSnapshot(s: Snapshot): LogReplay = {
    val r = new LogReplay
    r.protocol = s.protocol
    r.metadata = s.metadata
    s.allFiles.foreach(f => r.adds.put(f.decodedPath, f))
    s.tombstones.foreach(t => r.tombstones.put(t.decodedPath, t))
    r.txns ++= s.setTransactions
    s.domainMetadata.foreach(d => r.domains.put(d.domain, d))
    r
  }
}
