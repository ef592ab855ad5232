package graft.delta

import org.apache.spark.sql.{Column, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

/**
 * SQL UPDATE / MERGE over graft catalog tables — the row-level DML the
 * reference's catalog rejects outright (src/storage/delta_catalog.cpp:
 * 102-117). DELETE/TRUNCATE already route through `SupportsDelete`;
 * UPDATE and MERGE arrive as analyzer plans (`UpdateTable`,
 * `MergeIntoTable`) that Spark only plans for `SupportsRowLevelOperations`
 * tables, so [[GraftCatalogResolution]] rewrites them into these command
 * nodes, which drive the existing DV-based [[DeltaUpdate]]/[[DeltaMerge]]
 * machinery (executor-built deletion bitmaps + re-append in one commit —
 * nothing driver-side scales with row count).
 *
 * Expressions are re-anchored BY NAME (resolved attribute refs →
 * unresolved columns) because the command re-reads the table through its
 * own scan; subqueries in conditions are refused loudly.
 */
object SqlDml {

  /** Re-anchor `e` for resolution against a fresh scan of the same table. */
  private def byName(e: Expression): Column = {
    e.foreach {
      case s: SubqueryExpression =>
        throw new UnsupportedOperationException(
          s"subqueries are not supported in graft UPDATE/MERGE conditions: $s")
      case _ => ()
    }
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  private def assignmentName(key: Expression): String = assignmentPath(key) match {
    case Seq(one) => one
    case other => throw new UnsupportedOperationException(
      s"only top-level columns can be SET here: ${other.mkString(".")}")
  }

  /** SET target as a field path: `c` or `info.c` (nested struct field). */
  private def assignmentPath(key: Expression): Seq[String] = key match {
    case a: AttributeReference => Seq(a.name)
    case u: UnresolvedAttribute => u.nameParts
    case org.apache.spark.sql.catalyst.expressions.GetStructField(child, _, Some(name)) =>
      assignmentPath(child) :+ name
    case other => throw new UnsupportedOperationException(
      s"unsupported SET target in graft UPDATE/MERGE: $other")
  }

  /** The graft table path when `plan` IS the bare table (alias wrappers
    * only) — NOT when it merely contains one. A view target wraps the
    * relation in its Project/Filter; rewriting through that would run the
    * DML against the base table with the view's predicate silently
    * dropped. Those targets fall through to Spark's own row-level
    * planning, which refuses them. */
  private[delta] def graftPath(plan: LogicalPlan): Option[String] = plan match {
    case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
      graftPath(s.child)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
      Some(r.table.asInstanceOf[GraftTable].path)
    case _ => None
  }

  /** `UpdateTable` → command, when the target is a graft table. */
  def rewriteUpdate(u: UpdateTable): Option[LogicalPlan] =
    graftPath(u.table).map { path =>
      UpdateGraftTableCommand(path,
        u.assignments.map(a => assignmentPath(a.key) -> byName(a.value)),
        u.condition.map(byName))
    }

  /**
   * `MergeIntoTable` → [[MergeGraftTableCommand]], one command over the
   * [[DeltaMerge.mergeClauses]] engine for every statement shape: clause
   * conditions, expression assignments (a partial `SET x = s.x` is NEVER
   * widened to SET * — unassigned columns keep target values), the
   * CDC-apply pattern `WHEN MATCHED AND s.op='D' THEN DELETE`, and
   * `WHEN NOT MATCHED BY SOURCE` UPDATE/DELETE of target rows without a
   * source match (target-only expressions). The statement shape picks
   * only the result columns.
   */
  def rewriteMerge(m: MergeIntoTable): Option[LogicalPlan] = {
    graftPath(m.targetTable).map { path =>
      import org.apache.spark.sql.catalyst.plans.logical._
      // equality key pairs out of the merge condition (expr + its name)
      def keyPairs(e: Expression): Seq[((Expression, String), (Expression, String))] =
        e match {
          case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
            keyPairs(l) ++ keyPairs(r)
          case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r) =>
            Seq(((l, attrName(l)), (r, attrName(r))))
          case other => throw new UnsupportedOperationException(
            s"graft MERGE condition must be a conjunction of equalities: $other")
        }
      def attrName(e: Expression): String = e match {
        case a: AttributeReference => a.name
        case u: UnresolvedAttribute => u.nameParts.last
        // analyzer-inserted widening cast around a key column
        case c: org.apache.spark.sql.catalyst.expressions.Cast => attrName(c.child)
        case other => throw new UnsupportedOperationException(
          s"graft MERGE condition must compare columns: $other")
      }
      // Orient each equality as (target, source). When the condition is
      // resolved, exprId set membership attributes each side EXACTLY; only
      // unresolved conditions fall back to name membership. The merge
      // engine joins target and source BY THE SAME NAME, so `t.a = s.b`
      // with a ≠ b cannot be expressed — refuse it loudly rather than
      // silently joining on the wrong column.
      val targetAttrs = m.targetTable.outputSet
      val sourceAttrs = m.sourceTable.outputSet
      val targetCols = m.targetTable.output.map(_.name)
      def side(e: Expression): Option[Boolean] = e match { // Some(true)=target
        case a: AttributeReference if targetAttrs.contains(a) => Some(true)
        case a: AttributeReference if sourceAttrs.contains(a) => Some(false)
        case c: org.apache.spark.sql.catalyst.expressions.Cast => side(c.child)
        case _ => None
      }
      val pairs = keyPairs(m.mergeCondition).map { case ((lx, lName), (rx, rName)) =>
        val oriented = (side(lx), side(rx)) match {
          case (Some(true), Some(false)) => (lName, rName)
          case (Some(false), Some(true)) => (rName, lName)
          case (Some(a), Some(b)) if a == b =>
            throw new UnsupportedOperationException(
              s"graft MERGE condition must compare a target column with a " +
                s"source column, got same-side pair: $lx = $rx")
          case _ => // unresolved: name-membership fallback
            if (targetCols.exists(_.equalsIgnoreCase(lName))) (lName, rName)
            else (rName, lName)
        }
        if (!oriented._1.equalsIgnoreCase(oriented._2))
          throw new UnsupportedOperationException(
            s"graft MERGE join keys must share a name (t.X = s.X); got " +
              s"${oriented._1} = ${oriented._2}")
        oriented._1
      }
      // Tag each attribute's SIDE into the clause engine's prefixed
      // namespace (__t_/__s_): exprId membership is exact on resolved
      // plans; anything unattributable is refused, never guessed.
      def sided(e: Expression, allowTarget: Boolean, what: String,
          allowSource: Boolean = true): Column = {
        e.foreach {
          case s: SubqueryExpression => throw new UnsupportedOperationException(
            s"subqueries are not supported in graft MERGE clauses: $s")
          case _ => ()
        }
        GraftColumnBridge.column(e.transform {
          case a: AttributeReference if sourceAttrs.contains(a) =>
            if (!allowSource) throw new UnsupportedOperationException(
              s"graft MERGE: $what may reference only TARGET columns, got source ${a.name}")
            UnresolvedAttribute.quoted(s"__s_${a.name}")
          case a: AttributeReference if targetAttrs.contains(a) =>
            if (!allowTarget) throw new UnsupportedOperationException(
              s"graft MERGE: $what may reference only SOURCE columns, got target ${a.name}")
            UnresolvedAttribute.quoted(s"__t_${a.name}")
          case a: AttributeReference => throw new UnsupportedOperationException(
            s"graft MERGE: cannot attribute column ${a.name} to source or target in $what")
          case u: UnresolvedAttribute => throw new UnsupportedOperationException(
            s"graft MERGE: unresolved column ${u.name} in $what")
        })
      }

      // SET * equivalence, STRICT: every target column assigned, each
      // value the same-named SOURCE attribute (exprId-checked — `SET x =
      // t.x` or a partial list is not the plain upsert shape)
      def isSetStar(assignments: Seq[Assignment]): Boolean = {
        def srcAttr(e: Expression): Option[AttributeReference] = e match {
          case a: AttributeReference if sourceAttrs.contains(a) => Some(a)
          case c: org.apache.spark.sql.catalyst.expressions.Cast => srcAttr(c.child)
          case _ => None
        }
        val names = assignments.map(a => assignmentPath(a.key))
        names.forall(_.length == 1) &&
        targetCols.forall(c => names.exists(_.head.equalsIgnoreCase(c))) &&
        assignments.forall(a => srcAttr(a.value)
          .exists(_.name.equalsIgnoreCase(assignmentPath(a.key).head)))
      }

      // WHEN NOT MATCHED BY SOURCE clauses act on target rows alone, so
      // conditions/assignments may reference TARGET columns only
      val bySource = m.notMatchedBySourceActions.map {
        case DeleteAction(cond) => DeltaMerge.MergeClause(
          cond.map(sided(_, allowTarget = true,
            "WHEN NOT MATCHED BY SOURCE condition", allowSource = false)),
          isDelete = true, Nil)
        case UpdateAction(cond, assignments, _) =>
          val asg = assignments.map(a => assignmentName(a.key) ->
            sided(a.value, allowTarget = true,
              "NOT MATCHED BY SOURCE assignment", allowSource = false))
          require(asg.nonEmpty, "graft MERGE: UPDATE requires assignments")
          DeltaMerge.MergeClause(
            cond.map(sided(_, allowTarget = true,
              "WHEN NOT MATCHED BY SOURCE condition", allowSource = false)),
            isDelete = false, asg)
        case other => throw new UnsupportedOperationException(
          s"graft MERGE: unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }
      val clauses = m.matchedActions.map {
        case DeleteAction(cond) => DeltaMerge.MergeClause(
          cond.map(sided(_, allowTarget = true, "WHEN MATCHED condition")),
          isDelete = true, Nil)
        case UpdateStarAction(cond) => DeltaMerge.MergeClause(
          cond.map(sided(_, allowTarget = true, "WHEN MATCHED condition")),
          isDelete = false, Nil)
        case UpdateAction(cond, assignments, _) =>
          val asg = assignments.map(a => assignmentName(a.key) ->
            sided(a.value, allowTarget = true, "UPDATE assignment"))
          require(asg.nonEmpty, "graft MERGE: UPDATE requires assignments")
          DeltaMerge.MergeClause(
            cond.map(sided(_, allowTarget = true, "WHEN MATCHED condition")),
            isDelete = false, asg)
        case other => throw new UnsupportedOperationException(
          s"graft MERGE: unsupported WHEN MATCHED action: $other")
      }
      val notM = m.notMatchedActions match {
        case Nil => None
        case Seq(InsertStarAction(cond)) =>
          Some((cond.map(sided(_, allowTarget = false,
            "WHEN NOT MATCHED condition")), Nil: Seq[(String, Column)]))
        case Seq(InsertAction(cond, assignments)) =>
          val asg = assignments.map(a => assignmentName(a.key) ->
            sided(a.value, allowTarget = false, "INSERT value"))
          val covered = asg.map(_._1.toLowerCase).toSet
          val missing = targetCols.filterNot(c => covered.contains(c.toLowerCase))
          if (missing.nonEmpty) throw new UnsupportedOperationException(
            s"graft MERGE INSERT must assign every column; missing ${missing.mkString(", ")}")
          Some((cond.map(sided(_, allowTarget = false,
            "WHEN NOT MATCHED condition")), asg))
        case other => throw new UnsupportedOperationException(
          s"graft MERGE supports a single WHEN NOT MATCHED clause: $other")
      }

      // the result columns of each statement shape: a lone unconditional
      // DELETE returns rows_deleted; the plain upsert (unconditional SET *,
      // optional INSERT *, over a source with the table's columns) returns
      // rows_updated, rows_inserted; every other shape all three
      val plainUpsert =
        (m.matchedActions match {
          case Seq(UpdateStarAction(None)) => true
          case Seq(UpdateAction(None, assignments, _)) => isSetStar(assignments)
          case _ => false
        }) && (m.notMatchedActions match {
          case Nil | Seq(InsertStarAction(None)) => true
          case Seq(InsertAction(None, assignments)) => isSetStar(assignments)
          case _ => false
        }) && m.sourceTable.output.map(_.name.toLowerCase).toSet ==
          targetCols.map(_.toLowerCase).toSet
      val columns =
        if (bySource.nonEmpty) MergeGraftTableCommand.allColumns
        else if (m.matchedActions == Seq(DeleteAction(None)) && m.notMatchedActions.isEmpty)
          Seq("rows_deleted")
        else if (plainUpsert) Seq("rows_updated", "rows_inserted")
        else MergeGraftTableCommand.allColumns
      MergeGraftTableCommand(path, m.sourceTable, pairs, clauses, notM, bySource, columns)
    }
  }
}

/** UPDATE <graft table> SET ... [WHERE ...] — returns rows_updated.
  * Nested SET targets (`info.c = expr`) fold into a `withField` rebuild of
  * their top-level column, so [[DeltaUpdate]] stays a whole-column
  * assignment engine. */
case class UpdateGraftTableCommand(
    path: String,
    assignments: Seq[(Seq[String], Column)],
    condition: Option[Column]) extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    Seq(AttributeReference("rows_updated", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val log = DeltaLog.forPath(spark, path)
    val byTop = assignments.groupBy(_._1.head.toLowerCase)
    val asg = byTop.map { case (_, as) =>
      val top = as.head._1.head
      val merged = as.foldLeft(col(s"`$top`")) {
        case (_, (Seq(_), v)) => v // whole-column SET (last one wins)
        case (acc, (path, v)) => acc.withField(path.tail.mkString("."), v)
      }
      top -> merged
    }
    val n = DeltaUpdate.update(spark, log,
      condition.getOrElse(lit(true)), asg)
    Seq(Row(n))
  }
}

/** MERGE into a graft table through [[DeltaMerge.mergeClauses]] —
  * returns the counts `columns` names, in that order. */
case class MergeGraftTableCommand(
    path: String,
    source: LogicalPlan,
    keyCols: Seq[String],
    matched: Seq[DeltaMerge.MergeClause],
    notMatched: Option[(Option[Column], Seq[(String, Column)])],
    bySource: Seq[DeltaMerge.MergeClause],
    columns: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[AttributeReference] =
    columns.map(AttributeReference(_, LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val log = DeltaLog.forPath(spark, path)
    val (up, del, ins) = DeltaMerge.mergeClauses(spark, log,
      GraftColumnBridge.ofRows(spark, source), keyCols, matched, notMatched, bySource)
    val counts = Map("rows_updated" -> up, "rows_deleted" -> del, "rows_inserted" -> ins)
    Seq(Row.fromSeq(columns.map(counts)))
  }
}

object MergeGraftTableCommand {
  val allColumns: Seq[String] = Seq("rows_updated", "rows_deleted", "rows_inserted")
}
