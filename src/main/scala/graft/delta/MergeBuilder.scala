package graft.delta

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute

import graft.delta.DeltaMerge.MergeClause

/**
 * Fluent MERGE builder — the delta-spark `DeltaTable.merge(...)
 * .whenMatched...execute()` API shape over [[DeltaMerge.mergeClauses]]
 * (beyond the reference, whose catalog rejects all DML,
 * src/storage/delta_catalog.cpp:102-117).
 *
 * Conditions and assignment values are SQL strings over two fixed
 * aliases: `s`/`source` for the source side, `t`/`target` for the
 * target (`"s.op = 'D'"`, `"t.total + s.delta"`). Clauses apply in
 * call order, first match wins — SQL MERGE semantics. Example (the
 * CDC-apply pattern):
 *
 * {{{
 *   DeltaTable.forPath(spark, path)
 *     .merge(changes, "id")
 *     .whenMatchedDelete("s.op = 'D'")
 *     .whenMatchedUpdateAll()
 *     .whenNotMatchedInsertAll("s.op <> 'D'")
 *     .execute()
 * }}}
 *
 * Scale shape is [[DeltaMerge.mergeClauses]]'s: the source is read once
 * into one persisted join of target and source on the merge keys, tagged
 * by a codegen'd when-chain with the clause each row takes; the guards,
 * clause counts, written rows, change data and DV soft-deletes of
 * replaced rows all derive from it.
 */
final class MergeBuilder private[delta] (
    table: DeltaTable, source: DataFrame, keyCols: Seq[String]) {

  private val matched = ArrayBuffer.empty[MergeClause]
  private var notMatched: Option[(Option[Column], Seq[(String, Column)])] = None
  private val bySource = ArrayBuffer.empty[MergeClause]

  /** Parse a condition/value SQL string into the merge engine's prefixed
    * join namespace. `defaultSide`: where unqualified names bind (None =
    * refuse them — both sides are in scope, so bare names are ambiguous). */
  private def parse(sql: String, defaultSide: Option[String]): Column = {
    val parsed = table.spark.sessionState.sqlParser.parseExpression(sql)
    val mapped = parsed.transformUp {
      case u: UnresolvedAttribute if u.nameParts.length == 2 &&
          Seq("s", "source").contains(u.nameParts.head.toLowerCase) =>
        UnresolvedAttribute.quoted(s"__s_${u.nameParts.last}")
      case u: UnresolvedAttribute if u.nameParts.length == 2 &&
          Seq("t", "target").contains(u.nameParts.head.toLowerCase) =>
        UnresolvedAttribute.quoted(s"__t_${u.nameParts.last}")
      case u: UnresolvedAttribute if u.nameParts.length == 1 =>
        defaultSide match {
          case Some(p) => UnresolvedAttribute.quoted(s"__${p}_${u.nameParts.head}")
          case None => throw new IllegalArgumentException(
            s"ambiguous column '${u.nameParts.head}' in MERGE clause '$sql': " +
              "qualify with s./source. or t./target.")
        }
      case u: UnresolvedAttribute => throw new IllegalArgumentException(
        s"unknown qualifier in MERGE clause '$sql': ${u.nameParts.mkString(".")}")
    }
    GraftColumnBridge.column(mapped)
  }

  private def parseSet(set: Map[String, String], defaultSide: Option[String])
      : Seq[(String, Column)] =
    set.toSeq.map { case (target, value) => target -> parse(value, defaultSide) }

  /** WHEN MATCHED [AND cond] THEN UPDATE SET * — the whole source row
    * replaces the matched target row. */
  def whenMatchedUpdateAll(condition: String = null): MergeBuilder = {
    matched += MergeClause(Option(condition).map(parse(_, None)),
      isDelete = false, assignments = Nil)
    this
  }

  /** WHEN MATCHED [AND cond] THEN UPDATE SET col = expr, ... — partial
    * SET: unassigned columns keep the target value. */
  def whenMatchedUpdate(set: Map[String, String],
      condition: String = null): MergeBuilder = {
    require(set.nonEmpty, "whenMatchedUpdate needs at least one assignment")
    matched += MergeClause(Option(condition).map(parse(_, None)),
      isDelete = false, assignments = parseSet(set, None))
    this
  }

  /** WHEN MATCHED [AND cond] THEN DELETE. */
  def whenMatchedDelete(condition: String = null): MergeBuilder = {
    matched += MergeClause(Option(condition).map(parse(_, None)),
      isDelete = true, assignments = Nil)
    this
  }

  /** WHEN NOT MATCHED [AND cond] THEN INSERT * — unqualified names in
    * `cond` bind to the source (the only side in scope). */
  def whenNotMatchedInsertAll(condition: String = null): MergeBuilder = {
    require(notMatched.isEmpty, "only one WHEN NOT MATCHED clause is supported")
    notMatched = Some((Option(condition).map(parse(_, Some("s"))), Nil))
    this
  }

  /** WHEN NOT MATCHED [AND cond] THEN INSERT (col, ...) VALUES (expr, ...). */
  def whenNotMatchedInsert(values: Map[String, String],
      condition: String = null): MergeBuilder = {
    require(notMatched.isEmpty, "only one WHEN NOT MATCHED clause is supported")
    require(values.nonEmpty, "whenNotMatchedInsert needs at least one value")
    notMatched = Some((Option(condition).map(parse(_, Some("s"))),
      parseSet(values, Some("s"))))
    this
  }

  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... —
    * unqualified names bind to the target (the only side in scope). */
  def whenNotMatchedBySourceUpdate(set: Map[String, String],
      condition: String = null): MergeBuilder = {
    require(set.nonEmpty, "whenNotMatchedBySourceUpdate needs at least one assignment")
    bySource += MergeClause(Option(condition).map(parse(_, Some("t"))),
      isDelete = false, assignments = parseSet(set, Some("t")))
    this
  }

  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  def whenNotMatchedBySourceDelete(condition: String = null): MergeBuilder = {
    bySource += MergeClause(Option(condition).map(parse(_, Some("t"))),
      isDelete = true, assignments = Nil)
    this
  }

  /** Run the MERGE. @return (updatedRows, deletedRows, insertedRows) */
  def execute(): (Long, Long, Long) =
    DeltaMerge.mergeClauses(table.spark, table.log, source, keyCols,
      matched.toSeq, notMatched, bySource.toSeq)
}
