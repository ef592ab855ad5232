package graft.delta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
import org.apache.spark.sql.types.DataType

/**
 * Partition pruning through generation expressions (delta-spark's
 * `OptimizeGeneratedColumn` analog): when a PARTITION column is generated
 * from a data column by a MONOTONIC expression — `p = year(ts)`,
 * `p = CAST(ts AS DATE)`, `p = date_trunc('day', ts)` — a filter on the
 * base column implies a filter on the partition column:
 *
 *   ts >= L  ⇒  p >= f(L)        (f non-decreasing)
 *   ts  = L  ⇒  p  = f(L)        (generation invariant, enforced on write)
 *   ts <= L  ⇒  p <= f(L)
 *
 * Without this, `WHERE ts BETWEEN …` on a `PARTITIONED BY (year(ts))`
 * table scans every partition — the single most common layout for 100 TB
 * event tables. The derivation is driver-only (one literal evaluation per
 * filter), so it costs nothing at plan time.
 *
 * Conservative by construction: only whitelisted provably-monotonic
 * shapes derive anything; any parse/eval failure silently derives nothing
 * (the original filters still run row-level, so results never change —
 * only how many files are scheduled).
 */
object GeneratedPruning {

  /** Monotonic single-argument functions of the base column (lexicographic
    * monotonicity for the date_format patterns). */
  private val monotonicFns = Set("year", "to_date", "date_trunc", "trunc")
  private val monotonicFormats = Set("yyyy", "yyyy-MM", "yyyy-MM-dd")

  private final case class GenRule(
      partName: String, partType: DataType,
      evalBase: (Any, DataType) => Option[Any])

  /** Build derivation rules for `snapshot`'s generated partition columns,
    * keyed by the (lower-cased, logical) base column name. */
  private def rules(spark: SparkSession, snapshot: Snapshot): Seq[(String, GenRule)] =
    snapshot.partitionSchema.fields.toSeq.flatMap { pf =>
      if (!pf.metadata.contains("delta.generationExpression")) None
      else try {
        val parsed = spark.sessionState.sqlParser.parseExpression(
          pf.metadata.getString("delta.generationExpression"))
        val bases = parsed.collect { case a: UnresolvedAttribute => a.name }.distinct
        // function-based rules are monotonic only over temporal bases: a
        // STRING base compares lexicographically in the filter but parses
        // chronologically inside year()/to_date() — deriving there prunes
        // rows whose strings don't parse (null partition). Identity
        // (p = base) is order-preserving for any type.
        def temporalBase: Boolean = bases.headOption.exists { b =>
          snapshot.dataSchema.fields.find(_.name.equalsIgnoreCase(b))
            .exists(f => f.dataType == org.apache.spark.sql.types.DateType ||
              f.dataType == org.apache.spark.sql.types.TimestampType ||
              f.dataType == org.apache.spark.sql.types.TimestampNTZType)
        }
        val isIdentityExpr = parsed.isInstanceOf[UnresolvedAttribute]
        if (bases.length != 1 || !monotonic(parsed) ||
            (!isIdentityExpr && !temporalBase)) None
        else {
          val base = bases.head
          def evalAt(v: Any, vt: DataType): Option[Any] = try {
            val substituted = parsed.transformUp {
              case _: UnresolvedAttribute => Literal(v, vt)
            }
            // cast to the partition column's declared type: generation
            // expressions often yield a narrower type than the column
            // (year() is INT, the column BIGINT) — the generation
            // invariant guarantees the value fits
            val plan = Project(
              Seq(Alias(Cast(substituted, pf.dataType), "v")()), OneRowRelation())
            val analyzed = spark.sessionState.analyzer.execute(plan)
            val e = analyzed.asInstanceOf[Project].projectList.head
            if (e.dataType != pf.dataType) None
            else Option(e.eval(null)) // null result ⇒ no derivation
          } catch { case scala.util.control.NonFatal(_) => None }
          Some(base.toLowerCase -> GenRule(pf.name, pf.dataType, evalAt))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  private def monotonic(e: Expression): Boolean = e match {
    case _: UnresolvedAttribute => true
    case Cast(_: UnresolvedAttribute, dt, _, _) =>
      dt == org.apache.spark.sql.types.DateType
    case f: UnresolvedFunction =>
      val name = f.nameParts.last.toLowerCase
      val args = f.arguments
      name match {
        case n if monotonicFns.contains(n) &&
          args.exists(_.isInstanceOf[UnresolvedAttribute]) =>
          // date_trunc/trunc take a literal unit + the column; year/to_date
          // take just the column — all arguments besides the base must be
          // literals
          args.forall(a => a.isInstanceOf[UnresolvedAttribute] || a.foldable)
        case "date_format" => args match {
          case Seq(_: UnresolvedAttribute, Literal(fmt, _)) =>
            monotonicFormats.contains(String.valueOf(fmt))
          case _ => false
        }
        case _ => false
      }
    case _ => false
  }

  /** Derived partition filters for `dataFilters` (logical names). */
  def derive(spark: SparkSession, snapshot: Snapshot,
      dataFilters: Seq[Expression]): Seq[Expression] = {
    val ruleMap = rules(spark, snapshot)
    if (ruleMap.isEmpty) return Nil

    def logicalName(a: AttributeReference): String = a.name.toLowerCase
    def part(r: GenRule): AttributeReference =
      AttributeReference(r.partName, r.partType, nullable = true)()
    def evalLit(r: GenRule, l: Literal): Option[Literal] =
      if (l.value == null) None
      else r.evalBase(l.value, l.dataType).map(Literal(_, r.partType))
    def forBase(name: String): Seq[GenRule] =
      ruleMap.collect { case (b, r) if b == name => r }

    dataFilters.flatMap {
      case EqualTo(a: AttributeReference, l: Literal) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(EqualTo(part(r), _)))
      case EqualTo(l: Literal, a: AttributeReference) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(EqualTo(part(r), _)))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(GreaterThanOrEqual(part(r), _)))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(GreaterThanOrEqual(part(r), _)))
      case LessThan(a: AttributeReference, l: Literal) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(LessThanOrEqual(part(r), _)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(LessThanOrEqual(part(r), _)))
      case GreaterThan(l: Literal, a: AttributeReference) => // L > a ⇔ a < L
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(LessThanOrEqual(part(r), _)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(LessThanOrEqual(part(r), _)))
      case LessThan(l: Literal, a: AttributeReference) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(GreaterThanOrEqual(part(r), _)))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        forBase(logicalName(a)).flatMap(r => evalLit(r, l).map(GreaterThanOrEqual(part(r), _)))
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        forBase(logicalName(a)).flatMap { r =>
          val mapped = vs.map(v => evalLit(r, v.asInstanceOf[Literal]))
          if (mapped.exists(_.isEmpty)) None
          else Some(In(part(r), mapped.flatten.distinct))
        }
      case _ => Nil
    }
  }
}
