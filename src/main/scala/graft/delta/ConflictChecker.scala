package graft.delta

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Optimistic-concurrency conflict resolution for non-blind commits —
 * the delta-spark ConflictChecker analog. The reference surfaces every
 * version collision as a hard error (its commit path,
 * src/storage/delta_transaction.cpp:464-488); blind appends here already
 * rebase-and-retry, and this extends the same liveness to row-level DML
 * and compaction: a commit built against snapshot S that loses the race
 * for version S+1 is only WRONG if the winner changed something this
 * commit read or touched. Otherwise it re-attempts at the next version
 * unchanged (the action list is position-independent).
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
   * Write `content` as the next commit, rebasing over logically-disjoint
   * concurrent winners. `base` is the snapshot the actions were computed
   * from; `touchedFiles` the log-form paths of every file this commit
   * removes or re-adds (DV rewrites included).
   *
   * @return the committed version
   */
  def commitWithRebase(
      log: DeltaLog,
      base: Snapshot,
      content: String,
      touchedFiles: Set[String],
      scope: => ReadScope,
      maxAttempts: Int = 10): Long =
    commitWithRebaseAt(log, base, _ => content, touchedFiles, scope, maxAttempts)

  /** As [[commitWithRebase]], but the commit content is a function of the
    * version it actually lands at — required whenever the staged actions
    * embed the commit version itself (row tracking's
    * defaultRowCommitVersion), which a rebase over disjoint winners
    * would otherwise misreport. */
  def commitWithRebaseAt(
      log: DeltaLog,
      base: Snapshot,
      contentAt: Long => String,
      touchedFiles: Set[String],
      scope: => ReadScope,
      maxAttempts: Int = 10): Long = {
    lazy val resolvedScope = scope // predicate resolution only on conflict
    var attemptVersion = base.version + 1
    var attempts = 0
    while (true) {
      attempts += 1
      try {
        LogStore.write(log.fs, log.commitFile(attemptVersion), contentAt(attemptVersion))
        log.invalidateCache()
        log.maybeAutoCheckpoint(attemptVersion, base.metadata.configuration)
        return attemptVersion
      } catch {
        case e: CommitConflictException =>
          log.invalidateCache()
          val latestVersion = log.update().version
          if (attempts >= maxAttempts || latestVersion < attemptVersion) throw e
          (attemptVersion to latestVersion).foreach { v =>
            checkWinner(log, v, touchedFiles, resolvedScope, base)
          }
          attemptVersion = latestVersion + 1
      }
    }
    -1L // unreachable
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
