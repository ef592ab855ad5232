package graft.delta

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Lazily parsed add-action `stats` JSON. Values stay as JsonNode and are
  * normalized per column type on demand. */
final case class ParsedStats(
    numRecords: Option[Long],
    minValues: Map[String, JsonNode],
    maxValues: Map[String, JsonNode],
    nullCount: Map[String, Long],
    /** Protocol `tightBounds`: absent/true = stats are exact; false =
      * min/max (and per-column nullCount) are only BOUNDS — e.g. stats
      * carried over a DV update without recomputation. Bounds still skip
      * files correctly but must never be served as exact extremes. */
    tightBounds: Option[Boolean] = None)

object ParsedStats {
  def parse(json: String): Option[ParsedStats] =
    try {
      val n = ActionJson.mapper.readTree(json)
      def fields(f: String): Map[String, JsonNode] =
        Option(n.get(f)).filterNot(_.isNull).map { o =>
          val it = o.properties().iterator()
          val b = Map.newBuilder[String, JsonNode]
          while (it.hasNext) { val e = it.next(); if (!e.getValue.isNull) b += e.getKey -> e.getValue }
          b.result()
        }.getOrElse(Map.empty)
      Some(ParsedStats(
        numRecords = Option(n.get("numRecords")).filterNot(_.isNull).map(_.asLong),
        minValues = fields("minValues"),
        maxValues = fields("maxValues"),
        nullCount = fields("nullCount").collect { case (k, v) if v.isNumber => k -> v.asLong },
        tightBounds = Option(n.get("tightBounds"))
          .filterNot(_.isNull).map(_.asBoolean)))
    } catch { case _: Exception => None }
}

/**
 * Stats-based file skipping: decide, per data file, whether it can possibly
 * contain rows matching the pushed-down filters, from per-file
 * min/max/nullCount statistics.
 *
 * This is the Spark-side equivalent of the reference's predicate pushdown
 * into kernel log replay (PredicateVisitor, src/delta_utils.cpp:938-1173):
 * the same supported subset — =, <>, <, <=, >, >=, IS NULL, IS NOT NULL,
 * AND (we additionally handle OR, IN and string prefix) — and the same
 * conservative contract: anything unsupported keeps the file
 * (delta_utils.cpp:1148-1173 returns "no filter" on unsupported nodes).
 *
 * Runs on the driver at planning time over file *metadata* only (cost is
 * O(#files), never O(rows) — this is what makes a 100 TB scan with a
 * selective predicate cheap: files that can't match are never scheduled).
 */
object FileSkipping {

  /** Below this many files an in-memory [[FileFold]] runs sequentially:
    * the fork/join overhead outweighs parallel stats parsing. */
  private[delta] val ParallelThreshold = 8192

  /** Returns the files that may contain matching rows.
    *
    * Scale: per-file work is stats-JSON parse + predicate eval; at
    * many-file scale (a 100 TB table has 10⁵-10⁶ add actions) a
    * single-threaded driver scan becomes the planning bottleneck, so large
    * lists are pruned by [[Snapshot.fold]]'s fork-join path
    * (order-preserving; the evaluator is pure). */
  def prune(files: Seq[AddFile], dataSchema: StructType, filters: Seq[Expression]): Seq[AddFile] =
    keeper(dataSchema, filters) match {
      case None => files
      case Some(keep) =>
        Snapshot.fold(files, new FileFold.Candidates(Some(keep), None, new StructType))
          .files.toVector
    }

  /** The per-file keep decision as a SERIALIZABLE closure (captures only the
    * resolved filter expressions + schema), so a Dataset-backed snapshot can
    * ship it to executors and prune a 10⁷-add checkpoint distributed. None
    * when no filter can skip anything. */
  private[graft] def keeper(dataSchema: StructType,
      filters: Seq[Expression]): Option[AddFile => Boolean] = {
    if (filters.isEmpty) return None
    val resolved = filters.flatMap(f => if (supportedShape(f)) Some(f) else None)
    if (resolved.isEmpty) None
    else Some { f =>
      f.parsedStats match {
        case Some(st) => resolved.forall(e => mayContain(st, dataSchema, e))
        case None => true // no stats → cannot skip (reference: kept)
      }
    }
  }

  private def supportedShape(e: Expression): Boolean = e match {
    case And(l, r) => supportedShape(l) || supportedShape(r)
    case _ => true // leaves self-report via mayContain returning true
  }

  // ---- normalized stat/literal values -------------------------------------

  /** Catalyst literal internal value → normalized comparable. */
  private def normLiteral(value: Any, dt: DataType): Option[Any] = {
    if (value == null) return None
    dt match {
      case _: ByteType => Some(BigDecimal(value.asInstanceOf[Byte].toInt))
      case _: ShortType => Some(BigDecimal(value.asInstanceOf[Short].toInt))
      case _: IntegerType => Some(BigDecimal(value.asInstanceOf[Int]))
      case _: LongType => Some(BigDecimal(value.asInstanceOf[Long]))
      case _: FloatType =>
        val f = value.asInstanceOf[Float]
        if (f.isNaN || f.isInfinite) None else Some(BigDecimal(f.toDouble))
      case _: DoubleType =>
        val d = value.asInstanceOf[Double]
        if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
      case _: DecimalType => Some(value.asInstanceOf[Decimal].toBigDecimal)
      case _: StringType => Some(value.toString)
      case _: BooleanType => Some(value.asInstanceOf[Boolean])
      case _: DateType => Some(value.asInstanceOf[Int].toLong) // days
      case _: TimestampType | _: TimestampNTZType => Some(value.asInstanceOf[Long]) // micros
      case _ => None
    }
  }

  /** Stats JSON node → normalized comparable, per the column's type. */
  private def normStat(n: JsonNode, dt: DataType): Option[Any] =
    try {
      dt match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          Some(BigDecimal(n.asLong))
        case _: FloatType | _: DoubleType =>
          val d = n.asDouble; if (d.isNaN || d.isInfinite) None else Some(BigDecimal(d))
        case _: DecimalType => Some(BigDecimal(n.asText))
        case _: StringType => Some(n.asText)
        case _: BooleanType => Some(n.asBoolean)
        case _: DateType => Some(java.time.LocalDate.parse(n.asText).toEpochDay)
        case _: TimestampType =>
          val i = java.time.Instant.parse(n.asText)
          Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
        case _: TimestampNTZType =>
          val ldt = java.time.LocalDateTime.parse(n.asText)
          Some(ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000)
        case _ => None
      }
    } catch { case _: Exception => None }

  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: BigDecimal, y: BigDecimal) => Some(x.compare(y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(x.compareTo(y))
    case (x: Long, y: Long) => Some(x.compareTo(y))
    case _ => None
  }

  // ---- column reference extraction ----------------------------------------

  /** A stats column reference: `key` addresses the (possibly dotted) stats
    * entry, `statType` is the STORAGE type the stats JSON is encoded in, and
    * `dayToMicros` marks a followed Date→Timestamp cast whose day-number
    * stats must be widened to the micros range the literal lives in. */
  private case class ColRef(key: String, statType: DataType, dayToMicros: Boolean = false)

  /** Casts through which stats comparison stays sound: every child value
    * maps to the cast type without loss or wraparound, so the child's
    * min/max order is preserved (mirrors Spark's own
    * UnwrapCastInBinaryComparison whitelist). Narrowing/truncating casts
    * (double→int, long→int, …) are NOT followed: `cast(d AS int) = 5` can
    * match a file whose double stats exclude 5. */
  private def valuePreservingCast(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if f == t => true
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (ByteType, d: DecimalType) => d.precision - d.scale >= 3
    case (ShortType, d: DecimalType) => d.precision - d.scale >= 5
    case (IntegerType, d: DecimalType) => d.precision - d.scale >= 10
    case (LongType, d: DecimalType) => d.precision - d.scale >= 20
    case (f: DecimalType, t: DecimalType) =>
      t.precision - t.scale >= f.precision - f.scale && t.scale >= f.scale
    case _ => false
  }

  private def sessionTzIsUtc: Boolean =
    try {
      val tz = org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone
      java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
    } catch { case _: Exception => false }

  /** Unwraps the attribute (through value-preserving casts) referenced by
    * `e`. Nested struct fields surface as dotted keys, matching how stats
    * for nested columns are laid out. */
  private def attrOf(e: Expression): Option[ColRef] = e match {
    case a: AttributeReference => Some(ColRef(a.name, a.dataType))
    case g @ GetStructField(child, ordinal, nameOpt) =>
      // name is often None in analyzed/pruned plans — fall back to the
      // child struct type's field name at this ordinal
      attrOf(child).flatMap { ref =>
        val fieldName = nameOpt.orElse(child.dataType match {
          case st: StructType if ordinal < st.fields.length =>
            Some(st.fields(ordinal).name)
          case _ => None
        })
        fieldName.map(nm => ColRef(s"${ref.key}.$nm", g.dataType))
      }
    case Cast(child, castTo, _, _) =>
      attrOf(child).flatMap { ref =>
        if (ref.dayToMicros) None // a second cast past D→T: bail out, keep file
        else (ref.statType, castTo) match {
          // cast(date AS timestamp_ntz) is midnight of the day, zone-free
          case (DateType, _: TimestampNTZType) => Some(ref.copy(dayToMicros = true))
          // cast(date AS timestamp) is midnight in the SESSION zone; only
          // sound to translate day stats to micros when that zone is UTC
          case (DateType, _: TimestampType) if sessionTzIsUtc =>
            Some(ref.copy(dayToMicros = true))
          case (f, t) if valuePreservingCast(f, t) => Some(ref)
          case _ => None
        }
      }
    case _ => None
  }

  private def litOf(e: Expression): Option[Any] = e match {
    case Literal(v, dt) => normLiteral(v, dt)
    case _ => None
  }

  // Resolve dotted stats key against possibly-nested maps: stats for nested
  // struct columns are written as nested objects {"a":{"b":min}}.
  private def lookup(m: Map[String, JsonNode], key: String): Option[JsonNode] = {
    m.get(key).orElse {
      val parts = key.split('.')
      if (parts.length < 2) None
      else m.get(parts.head).flatMap { top =>
        parts.tail.foldLeft(Option(top)) { (cur, p) =>
          cur.flatMap(n => Option(n.get(p)).filterNot(_.isNull))
        }
      }
    }
  }

  // ---- the decision -------------------------------------------------------

  private case class ColStats(
      min: Option[Any], max: Option[Any], nullCount: Option[Long], numRecords: Option[Long]) {
    def allNull: Boolean = (nullCount, numRecords) match {
      case (Some(nc), Some(nr)) => nc == nr && nr > 0
      case _ => false
    }
    def hasNulls: Option[Boolean] = nullCount.map(_ > 0)
  }

  private def colStats(st: ParsedStats, ref: ColRef): ColStats = {
    val mn = lookup(st.minValues, ref.key).flatMap(n => normStat(n, ref.statType))
    val mx = lookup(st.maxValues, ref.key).flatMap(n => normStat(n, ref.statType))
    // Date stats compared against a timestamp literal: day d covers the
    // micros range [d·86400e6, (d+1)·86400e6), so min widens down and max
    // widens up — never the same unit-mismatched compare in both bounds.
    val (mn2, mx2) =
      if (ref.dayToMicros)
        (mn.collect { case d: Long => (d * 86400000000L): Any },
         mx.collect { case d: Long => ((d + 1) * 86400000000L - 1): Any })
      else (mn, mx)
    ColStats(mn2, mx2, st.nullCount.get(ref.key), st.numRecords)
  }

  /** True iff the file may contain rows satisfying `e`. Conservative. */
  def mayContain(st: ParsedStats, schema: StructType, e: Expression): Boolean = e match {
    case And(l, r) => mayContain(st, schema, l) && mayContain(st, schema, r)
    case Or(l, r) => mayContain(st, schema, l) || mayContain(st, schema, r)

    case EqualTo(a, b) => binary(st, schema, a, b) {
      (cs, v) => !cs.allNull &&
        cs.min.forall(m => cmp(m, v).forall(_ <= 0)) &&
        cs.max.forall(m => cmp(m, v).forall(_ >= 0))
    }
    case EqualNullSafe(a, b) => binary(st, schema, a, b) {
      (cs, v) => cs.min.forall(m => cmp(m, v).forall(_ <= 0)) &&
        cs.max.forall(m => cmp(m, v).forall(_ >= 0))
    }
    case LessThan(a, b) =>
      binaryDirectional(st, schema, a, b)(
        (cs, v) => !cs.allNull && cs.min.forall(m => cmp(m, v).forall(_ < 0)),
        (cs, v) => !cs.allNull && cs.max.forall(m => cmp(m, v).forall(_ > 0)))
    case LessThanOrEqual(a, b) =>
      binaryDirectional(st, schema, a, b)(
        (cs, v) => !cs.allNull && cs.min.forall(m => cmp(m, v).forall(_ <= 0)),
        (cs, v) => !cs.allNull && cs.max.forall(m => cmp(m, v).forall(_ >= 0)))
    case GreaterThan(a, b) =>
      binaryDirectional(st, schema, a, b)(
        (cs, v) => !cs.allNull && cs.max.forall(m => cmp(m, v).forall(_ > 0)),
        (cs, v) => !cs.allNull && cs.min.forall(m => cmp(m, v).forall(_ < 0)))
    case GreaterThanOrEqual(a, b) =>
      binaryDirectional(st, schema, a, b)(
        (cs, v) => !cs.allNull && cs.max.forall(m => cmp(m, v).forall(_ >= 0)),
        (cs, v) => !cs.allNull && cs.min.forall(m => cmp(m, v).forall(_ <= 0)))

    case Not(EqualTo(a, b)) => binary(st, schema, a, b) { (cs, v) =>
      // skippable when every non-null value equals v (nulls never match <>)
      // or when the file is all-null
      val allEqualV = (cs.min, cs.max) match {
        case (Some(mn), Some(mx)) => cmp(mn, v).contains(0) && cmp(mx, v).contains(0)
        case _ => false
      }
      !(allEqualV || cs.allNull)
    }

    case IsNull(a) => attrOf(a) match {
      case Some(ref) =>
        colStats(st, ref).hasNulls.getOrElse(true)
      case None => true
    }
    case IsNotNull(a) => attrOf(a) match {
      case Some(ref) => !colStats(st, ref).allNull
      case None => true
    }

    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists(l => mayContain(st, schema, EqualTo(a, l)))
    case InSet(a, hset) =>
      attrOf(a) match {
        case Some(ref) =>
          val cs = colStats(st, ref)
          hset.exists { v =>
            normLiteral(v, a.dataType) match {
              case Some(nv) => !cs.allNull &&
                cs.min.forall(m => cmp(m, nv).forall(_ <= 0)) &&
                cs.max.forall(m => cmp(m, nv).forall(_ >= 0))
              case None => true
            }
          }
        case None => true
      }

    case StartsWith(a, Literal(p, _: StringType)) if p != null =>
      attrOf(a) match {
        case Some(ref @ ColRef(_, StringType, _)) =>
          val cs = colStats(st, ref)
          val prefix = p.toString
          val minOk = cs.min.forall {
            case s: String => s.take(prefix.length) <= prefix
            case _ => true
          }
          val maxOk = cs.max.forall {
            case s: String => s.take(prefix.length) >= prefix
            case _ => true
          }
          !cs.allNull && minOk && maxOk
        case _ => true
      }

    // BooleanSimplification rewrites `k = true` to the bare attribute and
    // `k = false` / `NOT k` to Not(attr) before pushdown — desugar back to
    // equality so boolean columns skip on their min/max like every other
    // stats type (reference covers bool in file_skipping_all_types.test)
    case Not(a) if a.dataType == org.apache.spark.sql.types.BooleanType &&
        attrOf(a).isDefined =>
      mayContain(st, schema, EqualTo(a,
        Literal(false, org.apache.spark.sql.types.BooleanType)))
    case a if a.dataType == org.apache.spark.sql.types.BooleanType &&
        attrOf(a).isDefined =>
      mayContain(st, schema, EqualTo(a,
        Literal(true, org.apache.spark.sql.types.BooleanType)))

    case _ => true // unsupported → keep file
  }

  /** attr-op-literal in either orientation; `f` written for (attr op lit). */
  private def binary(st: ParsedStats, schema: StructType, a: Expression, b: Expression)(
      f: (ColStats, Any) => Boolean): Boolean =
    binaryDirectional(st, schema, a, b)(f, f)

  private def binaryDirectional(st: ParsedStats, schema: StructType, a: Expression, b: Expression)(
      fwd: (ColStats, Any) => Boolean, rev: (ColStats, Any) => Boolean): Boolean = {
    (attrOf(a), litOf(b)) match {
      case (Some(ref), Some(v)) => fwd(colStats(st, ref), v)
      case _ =>
        (attrOf(b), litOf(a)) match {
          case (Some(ref), Some(v)) => rev(colStats(st, ref), v)
          case _ => true
        }
    }
  }
}
