package graft.delta

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.{BasePredicate, Expression, Predicate}
import org.apache.spark.sql.types.StructType

/**
 * One table-level fact of a snapshot as a fold over its live file list.
 * Each fact has this one definition, and exactly two executors run it:
 * [[Snapshot.fold]] over an in-memory list, and [[LazySnapshot.fold]] over
 * the checkpoint-backed adds, one partial per partition merged on the
 * driver. Partials are therefore plain serializable values; `add` and
 * `merge` may update their first argument in place and return it.
 */
private[delta] trait FileFold[P] extends Serializable {
  /** A fresh partial: one per chunk or partition. */
  def zero: P
  /** `p` with one more file. */
  def add(p: P, f: AddFile): P
  /** `a` followed by `b`: the partials of two adjacent runs of the list. */
  def merge(a: P, b: P): P
  /** Whether `p` already settles the fact: the rest of its run is skipped. */
  def bailed(p: P): Boolean = false
}

private[delta] object FileFold {

  /** The sequential loop both executors run over one run of files. */
  def run[P](fold: FileFold[P], files: Iterator[AddFile]): P = {
    var p = fold.zero
    while (files.hasNext && !fold.bailed(p)) p = fold.add(p, files.next())
    p
  }

  /** File count, total bytes and whether any file carries a deletion
    * vector, in one pass that parses no stats. */
  final case class Summary(files: Long, bytes: Long, hasDvs: Boolean)
  object Summary extends FileFold[Summary] {
    def zero: Summary = Summary(0L, 0L, hasDvs = false)
    def add(p: Summary, f: AddFile): Summary =
      Summary(p.files + 1, p.bytes + f.size, p.hasDvs || f.deletionVector.isDefined)
    def merge(a: Summary, b: Summary): Summary =
      Summary(a.files + b.files, a.bytes + b.bytes, a.hasDvs || b.hasDvs)
  }

  /** (Σ numRecords, Σ deletion-vector cardinality); None once a file lacks
    * numRecords (foreign writers may omit stats). */
  object Records extends FileFold[Option[(Long, Long)]] {
    def zero: Option[(Long, Long)] = Some((0L, 0L))
    def add(p: Option[(Long, Long)], f: AddFile): Option[(Long, Long)] =
      for ((n, d) <- p; r <- f.parsedStats.flatMap(_.numRecords))
        yield (n + r, d + f.deletionVector.map(_.cardinality).getOrElse(0L))
    def merge(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[(Long, Long)] =
      for ((n1, d1) <- a; (n2, d2) <- b) yield (n1 + n2, d1 + d2)
    override def bailed(p: Option[(Long, Long)]): Boolean = p.isEmpty
  }

  /** The surviving files of one run, in list order, and the run's own
    * partition predicate: interpreted evaluation is not thread-safe, so
    * each partial binds one. Only `files` travels back from an executor. */
  final class Survivors(@transient val pred: Option[BasePredicate]) extends Serializable {
    val files = ArrayBuffer.empty[AddFile]
  }

  /** Scan candidates: the files `keep` (the stats keeper) and `bound` (the
    * partition predicate, bound positionally against `partitionSchema`)
    * both let through. */
  final class Candidates(keep: Option[AddFile => Boolean], bound: Option[Expression],
      partitionSchema: StructType) extends FileFold[Survivors] {
    def zero: Survivors = new Survivors(bound.map(Predicate.createInterpreted))
    def add(p: Survivors, f: AddFile): Survivors = {
      if (keep.forall(_(f)) &&
          p.pred.forall(_.eval(PartitionUtil.internalRow(f.partitionValues, partitionSchema))))
        p.files += f
      p
    }
    def merge(a: Survivors, b: Survivors): Survivors = { a.files ++= b.files; a }
  }
}
