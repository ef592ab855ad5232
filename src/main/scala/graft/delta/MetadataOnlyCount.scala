package graft.delta

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/**
 * Metadata-only global aggregates (delta-spark's
 * OptimizeMetadataOnlyDeltaQuery analog): an unfiltered global
 * `count(*)` / `count(col)` / `min(col)` / `max(col)` over a delta table
 * is answered from the LOG — per-file numRecords/nullCount/min/max stats
 * for data columns, typed partitionValues for partition columns — instead
 * of scanning data. On a 100 TB table that is the difference between one
 * metadata pass and a full-corpus read.
 *
 * Safety contract (a wrong fast answer is worse than a slow right one):
 *  - `count(*)`: Σ numRecords − Σ DV cardinalities, both
 *    protocol-authoritative; any file missing numRecords bails.
 *  - `count(col)` / `min(col)` / `max(col)`: bail if ANY file carries a
 *    deletion vector (deleted rows could be the extreme / the non-null
 *    ones — cardinality alone can't prove otherwise).
 *  - data-column min/max only for types whose stats round-trip EXACTLY:
 *    integral types and dates. Strings and timestamps are excluded —
 *    writers may legally store truncated/widened bounds (delta-spark cuts
 *    strings at 32 chars with a tie-breaker increment and rounds
 *    timestamp maxima up to the next millisecond), which skip files
 *    correctly but are not the true extremes. Floats are excluded for
 *    NaN/-0.0 ordering.
 *  - partition-column min/max for any ordered type: the scan itself
 *    injects the decoded partitionValue, so the min over those values IS
 *    the column minimum — exact by construction (Spark's
 *    OptimizeMetadataOnlyQuery for hive layouts makes the same argument).
 *  - a file whose column is provably all-null (nullCount == numRecords)
 *    contributes no extreme and needs no min/max stat.
 *  - stats flagged `tightBounds: false` (protocol: bounds carried over a
 *    DV update without recomputation) serve file skipping but never an
 *    exact answer — column facts bail on such files.
 *  - `count(col)` needs only numRecords/nullCount arithmetic, so it is
 *    answered for ANY column type (the truncated-bounds argument only
 *    constrains extremes).
 *
 * The child must be a bare (possibly column-pruned) scan of a
 * [[GraftFileIndex]]-backed relation over the snapshot's own files with no
 * filters. `count(*)` equals the metadata live count only when the scan
 * yields live rows alone: its format drops this snapshot's DV-deleted
 * rows, or the table has no DVs — a relation that keeps deleted rows (the
 * DML's raw scan) on a DV table keeps its real scan. A relation over an
 * explicit file list (change feed, stream batch) or one that keeps only
 * deleted rows always keeps its real scan.
 */
class MetadataOnlyCount(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The scanned snapshot under projections, plus whether the scan yields
    * live rows only. */
  private def unwrap(plan: LogicalPlan): Option[(Snapshot, Boolean)] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => (fs.location, fs.fileFormat) match {
        case (g: GraftFileIndex, f: GraftParquetFileFormat) =>
          g.metadataSnapshot.flatMap { snap =>
            if (f.keepsOnlyDeletedRows) None
            else Some((snap, !snap.hasDeletionVectors || f.dropsDeletedRows))
          }
        case _ => None
      }
      case _ => None
    }
    // column pruning projects the scan down to the aggregated columns
    // (or to nothing, for count(*)); attributes keep identity through it
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(p.child)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case a @ Aggregate(groups, aggs, child, _)
        if groups.isEmpty && aggs.nonEmpty && aggs.forall(supportedShape) =>
      rewrite(a, child).getOrElse(a)
    case a @ Aggregate(groups, aggs, child, _)
        if groups.nonEmpty && aggs.nonEmpty &&
          groups.forall(_.isInstanceOf[AttributeReference]) &&
          aggs.forall(groupedShape) =>
      rewriteGrouped(a, child).getOrElse(a)
  }

  private def supportedShape(e: NamedExpression): Boolean = e match {
    case Alias(AggregateExpression(f, Complete, false, None, _), _) => f match {
      case Count(Seq(Literal(1, _))) => true
      case Count(Seq(_: AttributeReference)) => true
      case Min(_: AttributeReference) => true
      case Max(_: AttributeReference) => true
      case _ => false
    }
    case _ => false
  }

  /** Grouped shapes additionally pass grouping attrs through unaliased
    * (`SELECT DISTINCT pc` / `GROUP BY pc` output columns). */
  private def groupedShape(e: NamedExpression): Boolean = e match {
    case _: AttributeReference => true
    case other => supportedShape(other)
  }

  /** GROUP BY over PARTITION columns answered from the file list alone
    * (Spark's OptimizeMetadataOnlyQuery for hive layouts, generalized to
    * delta with DV-exact liveness): grouping keys, counts and extremes
    * all derive from (partitionValues, numRecords − DV cardinality).
    * DV-SAFE — every row of a file shares its partition tuple and the DV
    * cardinality is protocol-exact, so per-group liveness needs no
    * stats; groups whose live count reaches 0 are dropped (a real scan
    * yields no row for them). Every referenced column must be a
    * partition column of a decodable ordered type; anything else keeps
    * the real scan. `SELECT DISTINCT pc` and `GROUP BY pc` count/min/max
    * over a 100 TB table become one metadata pass, O(#partitions). */
  private def rewriteGrouped(a: Aggregate, child: LogicalPlan): Option[LogicalPlan] = {
    val (snap, live) = unwrap(child).getOrElse(return None)
    // the answer is the LIVE grouping; a scan that keeps DV-deleted rows
    // includes them — bail exactly like the global count
    if (!live) return None
    val groupAttrs = a.groupingExpressions.map(_.asInstanceOf[AttributeReference])
    def partCol(attr: AttributeReference): Option[(String, DataType)] =
      ColumnFacts.resolve(snap, attr.name) match {
        case Some((key, true, dt)) if dt == attr.dataType &&
            ColumnFacts.supported(dt, isPartition = true) => Some((key, dt))
        case _ => None
      }
    val aggAttrs: Seq[AttributeReference] = a.aggregateExpressions.flatMap {
      case attr: AttributeReference => Seq(attr)
      case Alias(AggregateExpression(f, _, _, _, _), _) => f match {
        case Count(Seq(attr: AttributeReference)) => Seq(attr)
        case Min(attr: AttributeReference) => Seq(attr)
        case Max(attr: AttributeReference) => Seq(attr)
        case _ => Nil
      }
      case _ => Nil
    }
    // full key = grouping cols ++ extra referenced partition cols (an
    // aggregated column outside the grouping varies within a group, so
    // the fold runs per FULL tuple and rolls up)
    val refs = (groupAttrs ++ aggAttrs)
      .foldLeft(Vector.empty[AttributeReference]) { (acc, at) =>
        if (acc.exists(_.exprId == at.exprId)) acc else acc :+ at
      }
    val resolved: Seq[(String, DataType)] =
      refs.map(at => partCol(at).getOrElse(return None))
    val facts = snap.partitionLiveFacts(resolved.map(_._1)).getOrElse(return None)
    val attrIdx = refs.map(_.exprId).zipWithIndex.toMap
    // -0.0 normalizes to 0.0 like Spark's NormalizeFloatingNumbers does
    // for GROUP BY keys — java boxed equality would otherwise split one
    // SQL group into two rows (boxed NaNs already compare equal)
    def norm(v: Any): Any = v match {
      case d: java.lang.Double if d.doubleValue() == 0.0d => java.lang.Double.valueOf(0.0d)
      case f: java.lang.Float if f.floatValue() == 0.0f => java.lang.Float.valueOf(0.0f)
      case other => other
    }
    val decoded: Seq[(Seq[Any], Long)] = facts.collect {
      case (raw, live) if live > 0L =>
        (raw.zip(resolved).map { case (rv, (_, dt)) =>
          try norm(PartitionUtil.toInternal(rv, dt))
          catch { case _: Exception => return None }
        }, live)
    }
    val gIdx = groupAttrs.map(at => attrIdx(at.exprId))
    val grouped = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[(Seq[Any], Long)]]
    decoded.foreach { case (vals, live) =>
      grouped.getOrElseUpdate(gIdx.map(vals(_)),
        scala.collection.mutable.ArrayBuffer.empty) += ((vals, live))
    }
    val rows: Seq[InternalRow] = grouped.toSeq.map { case (gk, members) =>
      val values: Seq[Any] = a.aggregateExpressions.map {
        case attr: AttributeReference =>
          gk(groupAttrs.indexWhere(_.exprId == attr.exprId))
        case Alias(AggregateExpression(f, Complete, false, None, _), _) => f match {
          case Count(Seq(Literal(1, _))) => members.map(_._2).sum
          case Count(Seq(attr: AttributeReference)) =>
            val i = attrIdx(attr.exprId)
            members.collect { case (v, l) if v(i) != null => l }.sum
          case Min(attr: AttributeReference) =>
            val i = attrIdx(attr.exprId)
            val vs = members.map(_._1(i)).filter(_ != null)
            if (vs.isEmpty) null
            else vs.min(org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(attr.dataType))
          case Max(attr: AttributeReference) =>
            val i = attrIdx(attr.exprId)
            val vs = members.map(_._1(i)).filter(_ != null)
            if (vs.isEmpty) null
            else vs.max(org.apache.spark.sql.catalyst.util.TypeUtils
              .getInterpretedOrdering(attr.dataType))
          case _ => return None
        }
        case _ => return None
      }
      InternalRow(values: _*)
    }
    Some(LocalRelation(a.output.map(_.asInstanceOf[Attribute]), rows))
  }

  private def rewrite(a: Aggregate, child: LogicalPlan): Option[LogicalPlan] = {
    val (snap, live) = unwrap(child).getOrElse(return None)
    // Which columns need EXACT extremes (min/max) vs only nullCount
    // arithmetic (count(col))? count(col) is answerable for ANY type —
    // the truncated-bounds argument only constrains extremes.
    val needsExtremes: Set[String] = a.aggregateExpressions.collect {
      case Alias(AggregateExpression(Min(attr: AttributeReference), _, _, _, _), _) => attr.name
      case Alias(AggregateExpression(Max(attr: AttributeReference), _, _, _, _), _) => attr.name
    }.toSet
    // one metadata pass per distinct column, shared across its aggregates
    val factsCache = scala.collection.mutable.Map.empty[String, Option[(Long, Any, Any)]]
    def factsFor(attr: AttributeReference): Option[(Long, Any, Any)] =
      factsCache.getOrElseUpdate(attr.name, {
        ColumnFacts.resolve(snap, attr.name).flatMap {
          case (key, isPartition, dt) =>
            val extremes = needsExtremes(attr.name)
            if (dt != attr.dataType) None
            else if (extremes && !ColumnFacts.supported(dt, isPartition)) None
            else snap.exactColumnFacts(key, isPartition, dt, extremes)
        }
      })
    // count(*) from Σ numRecords − Σ DV cardinality is the LIVE count —
    // a scan that keeps DV-deleted rows counts them too
    def countStar: Option[Long] =
      if (live) snap.exactRowCount else None
    val values: Seq[Any] = a.aggregateExpressions.map {
      case Alias(AggregateExpression(f, Complete, false, None, _), _) => f match {
        case Count(Seq(Literal(1, _))) =>
          countStar.getOrElse(return None)
        case Count(Seq(attr: AttributeReference)) =>
          factsFor(attr).getOrElse(return None)._1
        case Min(attr: AttributeReference) =>
          factsFor(attr).getOrElse(return None)._2
        case Max(attr: AttributeReference) =>
          factsFor(attr).getOrElse(return None)._3
        case _ => return None
      }
      case _ => return None
    }
    Some(LocalRelation(a.output.map(_.asInstanceOf[Attribute]),
      Seq(InternalRow(values: _*))))
  }
}

/** Per-file exact column contributions for [[MetadataOnlyCount]]'s
  * rewrites, and the two [[FileFold]]s that combine them. */
private[delta] object ColumnFacts {

  /** Resolve an aggregate's (logical) attribute name to (statsKey,
    * isPartitionCol, dataType); stats keys are the log's physical names. */
  def resolve(snap: Snapshot, name: String): Option[(String, Boolean, DataType)] = {
    val di = snap.dataSchema.indexWhere(_.name == name)
    if (di >= 0)
      Some((snap.physicalDataSchema(di).name, false, snap.dataSchema(di).dataType))
    else {
      val pi = snap.partitionSchema.indexWhere(_.name == name)
      if (pi < 0) None
      else Some((snap.physicalPartitionSchema(pi).name, true,
        snap.partitionSchema(pi).dataType))
    }
  }

  /** Data-column stats must round-trip exactly; partition values are exact
    * for every ordered type by construction (the scan injects them). */
  def supported(dt: DataType, isPartition: Boolean): Boolean =
    if (isPartition) dt match {
      case _: StringType | _: ByteType | _: ShortType | _: IntegerType |
           _: LongType | _: FloatType | _: DoubleType | _: BooleanType |
           _: DecimalType | _: DateType | _: TimestampType |
           _: TimestampNTZType => true
      case _ => false
    }
    else dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: DateType => true
      case _ => false
    }

  /** Stats JSON → Catalyst internal, EXACT or None. Only integral-encoded
    * numbers are trusted (a fractional or textual rendering of an integral
    * stat means a writer this rule doesn't understand). */
  private def decodeStat(dt: DataType, n: JsonNode): Option[Any] =
    try dt match {
      case _: ByteType if n.isIntegralNumber => Some(n.asLong.toByte)
      case _: ShortType if n.isIntegralNumber => Some(n.asLong.toShort)
      case _: IntegerType if n.isIntegralNumber => Some(n.asLong.toInt)
      case _: LongType if n.isIntegralNumber => Some(n.asLong)
      case _: DateType if n.isTextual =>
        Some(java.time.LocalDate.parse(n.asText).toEpochDay.toInt)
      case _ => None
    } catch { case _: Exception => None }

  /** One file's contribution: (nonNullRows, min, max) with nulls for "no
    * extreme" (all-null file, or `needExtremes=false`). None = the file
    * cannot PROVE its contribution and the whole rewrite must bail.
    * `needExtremes=false` (a bare count(col)) needs only
    * numRecords/nullCount arithmetic — valid for any column type. */
  def fileFacts(key: String, isPartition: Boolean, dt: DataType,
      needExtremes: Boolean)(f: AddFile): Option[(Long, Any, Any)] = {
    if (f.deletionVector.isDefined) return None
    val st = f.parsedStats.getOrElse(return None)
    val nr = st.numRecords.getOrElse(return None)
    if (isPartition) {
      // partitionValues are exact regardless of tightBounds (they are the
      // values the scan injects, not derived statistics)
      if (!f.partitionValues.contains(key)) return None
      val raw = f.partitionValues(key)
      val isNull = raw == null || (raw.isEmpty && !dt.isInstanceOf[StringType])
      if (isNull || nr == 0L) Some((0L, null, null))
      else if (!needExtremes) Some((nr, null, null))
      else {
        val v = try PartitionUtil.toInternal(raw, dt)
          catch { case _: Exception => return None }
        if (v == null) Some((0L, null, null)) else Some((nr, v, v))
      }
    } else {
      // tightBounds=false (protocol): min/max AND per-column nullCount are
      // bounds, not values — nothing column-derived is servable
      if (st.tightBounds.contains(false)) return None
      st.nullCount.get(key) match {
        case None => None
        case Some(nc) if nc == nr => Some((0L, null, null))
        case Some(nc) if !needExtremes => Some((nr - nc, null, null))
        case Some(nc) =>
          for {
            mnN <- st.minValues.get(key); mn <- decodeStat(dt, mnN)
            mxN <- st.maxValues.get(key); mx <- decodeStat(dt, mxN)
          } yield (nr - nc, mn, mx)
      }
    }
  }

  /** One file's (raw partition tuple, live rows) for the grouped rewrite:
    * live = numRecords − DV cardinality (both protocol-exact; every row
    * of a file shares its partition tuple, so DVs are file-granular here,
    * no stats needed). None = missing key or numRecords → bail. */
  def partitionLiveRow(keys: Seq[String])(f: AddFile)
      : Option[(Seq[String], Long)] = {
    val st = f.parsedStats.getOrElse(return None)
    val nr = st.numRecords.getOrElse(return None)
    val vals = keys.map { k =>
      if (!f.partitionValues.contains(k)) return None
      f.partitionValues(k)
    }
    Some((vals, nr - f.deletionVector.map(_.cardinality).getOrElse(0L)))
  }

  /** [[Snapshot.partitionLiveFacts]]' fold: live rows summed per raw
    * partition tuple of `keys`, in first-seen order; None once a file
    * cannot give its row (see [[partitionLiveRow]]). */
  final class PartitionLive(keys: Seq[String])
      extends FileFold[Option[mutable.LinkedHashMap[Seq[String], Long]]] {
    private type Acc = Option[mutable.LinkedHashMap[Seq[String], Long]]
    def zero: Acc = Some(mutable.LinkedHashMap.empty)
    def add(p: Acc, f: AddFile): Acc =
      for (acc <- p; row <- partitionLiveRow(keys)(f)) yield plus(acc, row)
    def merge(a: Acc, b: Acc): Acc =
      for (x <- a; y <- b) yield y.foldLeft(x)(plus)
    override def bailed(p: Acc): Boolean = p.isEmpty
    private def plus(acc: mutable.LinkedHashMap[Seq[String], Long],
        row: (Seq[String], Long)): mutable.LinkedHashMap[Seq[String], Long] =
      acc += row._1 -> (acc.getOrElse(row._1, 0L) + row._2)
  }

  /** [[Snapshot.exactColumnFacts]]' fold: the files' [[fileFacts]]
    * combined into (nonNullRows, min, max); None once a file cannot prove
    * its contribution. The ordering is lazy: a count-only fold never
    * compares values, so types without an interpreted ordering still
    * count fine. */
  final class Fold(key: String, isPartition: Boolean, dt: DataType, needExtremes: Boolean)
      extends FileFold[Option[(Long, Any, Any)]] {
    private type Acc = Option[(Long, Any, Any)]
    @transient private lazy val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dt)
    def zero: Acc = Some((0L, null, null))
    def add(p: Acc, f: AddFile): Acc =
      merge(p, fileFacts(key, isPartition, dt, needExtremes)(f))
    def merge(a: Acc, b: Acc): Acc =
      for ((c1, mn1, mx1) <- a; (c2, mn2, mx2) <- b) yield (c1 + c2,
        if (mn1 == null || (mn2 != null && ord.lt(mn2, mn1))) mn2 else mn1,
        if (mx1 == null || (mx2 != null && ord.gt(mx2, mx1))) mx2 else mx1)
    override def bailed(p: Acc): Boolean = p.isEmpty
  }
}
