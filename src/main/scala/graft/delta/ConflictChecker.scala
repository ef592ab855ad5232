package graft.delta

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * The commit path — every Delta write lands through [[commit]], the
 * analog of the reference's DeltaTransaction::Commit/Rollback
 * (src/storage/delta_transaction.cpp:411-573) — and its optimistic-
 * concurrency conflict resolution, the delta-spark ConflictChecker
 * analog. The reference surfaces every version collision as a hard
 * error (delta_transaction.cpp:464-488); here a commit built against
 * snapshot S that loses the race for version S+1 is only WRONG if the
 * winner changed something this commit read or touched. Otherwise it
 * re-attempts at the next version with the same actions, re-stamped for
 * that version (in-commit timestamp, row ids).
 *
 * Rules (delta-spark semantics):
 *  - winner wrote metaData or protocol → fail (everything may have moved)
 *  - winner removed a file this commit read/touches → fail
 *    (ConcurrentDeleteRead: our DV/remove/rewrite references dead state)
 *  - scope [[ReadScope.WholeTable]] (MERGE, full OVERWRITE — the
 *    operation's result depends on every live row/key): any concurrent
 *    `dataChange` add or remove → fail
 *  - scope [[ReadScope.Predicate]] (DELETE/UPDATE/replaceWhere): a
 *    concurrent `dataChange` add conflicts only if the winner's file MAY
 *    contain rows matching the read predicate — tested against its
 *    per-file stats with the same [[FileSkipping]] engine scans use.
 *    Stats missing / predicate unresolvable / column-mapped stats keys →
 *    conservative conflict. Non-touched removes are safe: every file
 *    holding a predicate-matching row is in the touched set by
 *    construction.
 *  - scope [[ReadScope.FilesOnly]] (OPTIMIZE/ZORDER, dataChange=false):
 *    rows don't change, so concurrent adds/removes are irrelevant unless
 *    they touch the exact files being rewritten.
 *
 * Scale: checking reads only the INTERVENING commit JSONs — driver-side
 * metadata, O(#winning commits), no data IO.
 */
object ConflictChecker {

  sealed trait ReadScope
  object ReadScope {
    /** Result depends on the whole table (MERGE key sets, full overwrite). */
    case object WholeTable extends ReadScope
    /** Result depends only on rows matching `cond` (None = the predicate
      * could not be resolved → adds are treated as always conflicting). */
    final case class Predicate(cond: Option[Expression]) extends ReadScope
    /** Result depends only on the bytes of the touched files (compaction). */
    case object FilesOnly extends ReadScope
  }

  /** Resolve a DML condition Column against a snapshot's scan schema into
    * a Catalyst expression over LOGICAL names; None when analysis fails
    * (callers degrade to conservative conflict). */
  def resolve(snap: Snapshot, cond: Column): Option[Expression] =
    try {
      import org.apache.spark.sql.catalyst.plans.logical.Filter
      // the OPTIMIZED plan: analysis alone leaves literal casts unfolded
      // (`x < 5` stays `x < cast(5 as bigint)`), which the stats engine
      // conservatively refuses — constant folding restores plain literals
      snap.toDF.where(cond).queryExecution.optimizedPlan.collectFirst {
        case f: Filter => f.condition
      }
    } catch { case _: Exception => None }

  /**
   * Write a commit — the only code that does. Each attempt at version `v`
   * prepends the `commitInfo` (in-commit timestamp computed for `v`),
   * assigns `adds` their row ids for `v` on row-tracked tables (plus the
   * high-water-mark domain action), writes the JSON PUT-if-absent, then
   * auto-checkpoints. A lost race rebases over winners disjoint under
   * `scope`, up to `maxAttempts`. A commit keeps the log's cached
   * snapshots, as a version never changes: the next resolve folds it onto
   * the cached tip. A create or clone drops them: the path may have held a
   * deleted table.
   *
   * The table configuration the commit lands under — the one in its own
   * metaData action (create, clone, ALTER, RESTORE's reset), else
   * `base`'s — decides the in-commit timestamp; the checkpoint interval
   * is `base`'s.
   *
   * @param base the snapshot the actions were computed from; None for a
   *   create or clone, which never rebases
   * @param actions every action except commitInfo, the row-id domain and
   *   `adds`; their removes are the files this commit touches
   * @param adds the commit's fresh data files
   * @param cdc pre-rendered `cdc` action lines
   * @param staged the write's staged files: emptied once the commit lands,
   *   since the log owns them from then on (see [[staging]])
   * @return the committed version
   */
  def commit(
      log: DeltaLog,
      base: Option[Snapshot],
      op: String,
      actions: Seq[Action],
      params: Map[String, String] = Map.empty,
      metrics: Map[String, String] = Map.empty,
      adds: Seq[AddFile] = Nil,
      cdc: Seq[String] = Nil,
      scope: => ReadScope = ReadScope.WholeTable,
      maxAttempts: Int = 10,
      staged: ArrayBuffer[Path] = ArrayBuffer.empty): Long = {
    lazy val resolvedScope = scope // predicate resolution only on conflict
    val baseConf = base.fold(Map.empty[String, String])(_.metadata.configuration)
    val conf = actions.flatMap(_.metaData).lastOption.fold(baseConf)(_.configuration)
    val rowTracked = adds.nonEmpty &&
      base.fold(RowTracking.enabledAtCreate(conf))(RowTracking.enabled)
    val touched = actions.flatMap(_.remove).map(_.path).toSet
    var v = base.fold(0L)(_.version + 1)
    var attempts = 0
    while (true) {
      attempts += 1
      val (stamped, rowIdDomain) =
        if (!rowTracked) (adds, Nil)
        else {
          val (as, dm) = RowTracking.assign(adds,
            base.fold(-1L)(RowTracking.highWaterMark), v)
          (as, Seq(Action(dm)))
        }
      val info = CommitInfo(System.currentTimeMillis(), op, params,
        inCommitTimestamp = log.nextInCommitTimestamp(conf, v),
        operationMetrics = metrics)
      val lines = ((Action(info) +: actions) ++ rowIdDomain ++
        stamped.map(Action(_))).map(ActionJson.toJson) ++ cdc
      try {
        LogStore.write(log.fs, log.commitFile(v), lines.mkString("", "\n", "\n"))
        staged.clear()
        if (base.isEmpty) log.invalidateCache()
        log.maybeAutoCheckpoint(v, baseConf)
        return v
      } catch {
        case e: CommitConflictException =>
          if (base.isEmpty) log.invalidateCache()
          val b = base.filter(_ => attempts < maxAttempts).getOrElse(throw e)
          val latestVersion = log.update().version
          if (latestVersion < v) throw e
          (v to latestVersion).foreach(checkWinner(log, _, touched, resolvedScope, b))
          v = latestVersion + 1
      }
    }
    -1L // unreachable
  }

  /** Run a write that stages files (data, deletion vectors, change data)
    * into the buffer it is handed and passes that buffer to [[commit]].
    * Whatever is still staged when `body` ends — no commit landed — is
    * deleted again (the reference's rollback, delta_transaction.cpp:475-488). */
  def staging[T](log: DeltaLog)(body: ArrayBuffer[Path] => T): T = {
    val staged = ArrayBuffer.empty[Path]
    try body(staged)
    finally staged.foreach(p => try log.fs.delete(p, false) catch { case NonFatal(_) => () })
  }

  private def checkWinner(log: DeltaLog, v: Long,
      touchedFiles: Set[String], scope: ReadScope, base: Snapshot): Unit = {
    val acts = log.readCommit(v)
    def fail(why: String): Nothing =
      throw new CommitConflictException(
        s"concurrent commit $v of ${log.tablePath} $why; " +
          "re-run the operation against the current table state")
    if (acts.exists(a => a.metaData.isDefined || a.protocol.isDefined))
      fail("changed table metadata/protocol")
    // domain metadata carries cross-commit state (the row-id high-water
    // mark): a staged commit computed against the old value would regress
    // it on rebase (id reuse) — even when the winner was dataChange=false
    if (acts.exists(_.domainMetadata.isDefined))
      fail("changed domain metadata (e.g. the row-id high-water mark)")
    val removes = acts.flatMap(_.remove)
    // compare DECODED paths: percent-encoding varies by writer (log
    // replay keys by decodedPath for the same reason), so a foreign
    // winner's differently-escaped remove of a touched file must still
    // register as a conflict, not slip through a raw string mismatch
    val touchedDecoded = touchedFiles.map(Actions.percentDecode)
    val hitTouched = removes.map(_.decodedPath).filter(touchedDecoded)
    if (hitTouched.nonEmpty)
      fail(s"removed file(s) this operation read: ${hitTouched.take(3).mkString(", ")}")
    val dataAdds = acts.flatMap(_.add).filter(_.dataChange)
    val dataRemoves = removes.filter(_.dataChange)
    scope match {
      case ReadScope.FilesOnly => ()
      case ReadScope.WholeTable =>
        if (dataAdds.nonEmpty) fail("appended rows this operation read")
        if (dataRemoves.nonEmpty) fail("deleted rows this operation read")
      case ReadScope.Predicate(cond) =>
        // non-touched removes are safe (see scaladoc); adds conflict when
        // their stats cannot PROVE disjointness from the read predicate
        val mayMatch = cond match {
          case None => dataAdds
          case Some(p) =>
            FileSkipping.prune(dataAdds, base.physicalDataSchema,
              Seq(base.physicalFilter(p)))
        }
        if (mayMatch.nonEmpty)
          fail("appended rows that may match this operation's predicate " +
            s"(${mayMatch.take(3).map(_.path).mkString(", ")})")
    }
  }
}
