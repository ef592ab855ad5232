package graft.delta

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Blind-append writer + transactional commit — the Spark rebuild of the
 * reference's INSERT path (src/storage/delta_insert.cpp:304-408: parquet
 * COPY → per-file WRITTEN_FILE_STATISTICS → NOT NULL enforcement → add
 * actions → atomic commit, src/storage/delta_transaction.cpp:490-573).
 *
 * Execution split mirrors §3.3 of SURVEY.md: one Spark job writes each
 * parquet file at its final path and aggregates that file's stats in the
 * same task ([[InPlaceWrite]]); only per-file *metadata* (one record per
 * file) reaches the driver for the commit. No file is renamed or read
 * back.
 */
object DeltaWriter {

  /**
   * Append `df` to the Delta table at `path`, creating it when absent.
   *
   * @param txnAppId/txnVersion idempotent-write marker: when the table has
   *   already recorded a version >= txnVersion for txnAppId, the append is
   *   skipped (reference idempotency_helpers.cpp:41-145; enforcement
   *   delta_transaction.cpp:415-462).
   * @return committed version (or the current version on idempotent skip)
   */
  def append(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      partitionBy: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      txnAppId: Option[String] = None,
      txnVersion: Option[Long] = None,
      operation: String = "WRITE",
      mergeSchema: Boolean = false): Long = {

    val log = DeltaLog.forPath(spark, path)
    val snapshot = if (log.tableExists) Some(log.update()) else None

    // BEYOND the reference (it rejects writes to column-mapped tables,
    // test/sql/generated/writing/append/basic_append.test:74+): appends
    // align on LOGICAL names, then stage under PHYSICAL names (files,
    // stats keys and partitionValues are physical per protocol).
    // mergeSchema evolution on mapped tables would need physical-name
    // minting mid-append — use ALTER TABLE ADD COLUMNS first.
    snapshot.foreach { s =>
      if (s.columnMappingMode != "none" && mergeSchema)
        throw new UnsupportedOperationException(
          "mergeSchema append to a column-mapped table is not supported; " +
            "ALTER TABLE ADD COLUMNS first")
      // writer-side protocol gate: never commit what we can't honor
      ProtocolGate.validateWrite(s, "WRITE")
    }

    // idempotent skip before doing any work
    for (app <- txnAppId; v <- txnVersion; s <- snapshot;
         cur <- s.setTransactions.get(app) if cur >= v) {
      return s.version
    }

    val partCols = snapshot.map(_.metadata.partitionColumns).getOrElse(partitionBy)
    val (rows, schema, _) = prepare(spark, df, path, snapshot, mergeSchema)
    ConflictChecker.staging(log) { staged =>
      val adds = write(spark, log, snapshot, schema, rows, partCols,
        snapshot.map(_.metadata.configuration).getOrElse(configuration), staged)
      commitAppend(log, snapshot, adds, staged, schema, partCols,
        configuration, txnAppId, txnVersion, operation)
    }
  }

  /**
   * The rows an append or overwrite writes and the schema it writes
   * under. Generated columns and defaults the frame omits are filled;
   * identity columns are assigned or synced (the advanced high-water marks
   * ride the returned schema, so the commit re-emits them). Columns align
   * on the table's LOGICAL names and types: narrower incoming types
   * upcast, and missing nullable struct fields null-fill. With
   * `mergeSchema`, unseen columns extend the schema and existing columns
   * may WIDEN (the protocol's type widening; old files upcast on read).
   * At create (`snapshot` None) the frame's own schema is the table's.
   *
   * @return (aligned rows, write schema, advanced identity marks)
   */
  private def prepare(spark: SparkSession, df: DataFrame, path: String,
      snapshot: Option[Snapshot], mergeSchema: Boolean)
      : (DataFrame, StructType, Map[String, Long]) = {
    val table = snapshot.fold(df.schema)(_.schema)
    // identity: auto-assign when missing (distributed prefix sum), sync
    // the high-water mark when explicit; at creation the supplied values
    // seed the mark
    val (filled, marks) = Identity.fill(spark, table,
      fillMissing("CURRENT_DEFAULT", table, fillMissing("delta.generationExpression", table, df)),
      creating = snapshot.isEmpty)
    val (aligned, schema) = snapshot match {
      case None => (filled, filled.schema)
      case Some(s) =>
        val have = filled.columns.map(_.toLowerCase).toSet
        val want = s.schema.fieldNames.map(_.toLowerCase).toSet
        def dfField(name: String): StructField =
          filled.schema.fields.find(_.name.equalsIgnoreCase(name)).get
        val evolved =
          if (mergeSchema) {
            require(want.subsetOf(have),
              s"mergeSchema append must contain all table columns; missing ${(want -- have).toSeq.sorted}")
            val newCols = filled.schema.fields.filterNot(f => want.contains(f.name.toLowerCase))
            StructType(s.schema.fields.map { tf =>
              widenedType(tf.dataType, dfField(tf.name).dataType, allowNewFields = true) match {
                case Some(w) => tf.copy(dataType = w)
                case None => throw new IllegalArgumentException(
                  s"Cannot merge types for column ${tf.name}: " +
                    s"table ${tf.dataType.sql}, data ${dfField(tf.name).dataType.sql}")
              }
            } ++ newCols.map(_.copy(nullable = true)))
          } else {
            require(have == want,
              s"Schema mismatch writing $path: have ${have.toSeq.sorted}, want ${want.toSeq.sorted}")
            // nothing may WIDEN the table schema without mergeSchema
            s.schema.fields.foreach { tf =>
              val inT = dfField(tf.name).dataType
              require(widenedType(tf.dataType, inT).contains(tf.dataType),
                s"Type mismatch for column ${tf.name}: table ${tf.dataType.sql}, " +
                  s"data ${inT.sql} (not losslessly alignable; use mergeSchema to widen)")
            }
            s.schema
          }
        (filled.select(evolved.fields.map { tf =>
          val in = dfField(tf.name)
          alignExpr(col(s"`${in.name}`"), in.dataType, tf.dataType).as(tf.name)
        }.toIndexedSeq: _*), evolved)
    }
    // the reference rejects writes to EXISTING tables whose schema carries
    // NOT NULL array-element constraints (delta_table_entry.cpp:99-103);
    // creating a table from such a frame is fine
    if (snapshot.isDefined) schema.fields.foreach { f =>
      f.dataType match {
        case ArrayType(_, false) =>
          throw new UnsupportedOperationException(
            s"Writes to tables with non-nullable array elements are not supported (column ${f.name})")
        case _ => ()
      }
    }
    (aligned, Identity.withMarks(schema, marks), marks)
  }

  /** Project `df` (logical column names) to the table's PHYSICAL
    * rendition: parquet files, stats keys and partitionValues of
    * column-mapped tables are keyed by physical name; id mode also stamps
    * `parquet.field.id` so readers resolve by id. Nested struct renames
    * (and id-mode nested field ids) ride a positional cast to the physical
    * TYPE. Returns the physical schema, partition columns and the extra
    * per-write options — id mode enables field-id writing via the job
    * hadoopConf, never by mutating the session conf. Unmapped tables
    * (and a create) write `df` under `schema`, which a mergeSchema append
    * may have evolved beyond the snapshot's; mapped tables refuse
    * mergeSchema and write under the snapshot's. */
  private[delta] def toPhysical(snapshot: Option[Snapshot], schema: StructType,
      df: DataFrame, partCols: Seq[String],
      /** physical pass-through columns beyond the table schema (the
        * row-tracking rewrite's materialized id columns) */
      extraCols: Seq[StructField] = Nil)
      : (DataFrame, StructType, Seq[String], Map[String, String]) = {
    val mapped = snapshot.filter(_.columnMappingMode != "none")
    if (mapped.isEmpty) return (df, StructType(schema.fields ++ extraCols), partCols, Map.empty)
    val s = mapped.get
    val writeOpts =
      if (s.columnMappingMode == "id")
        Map("spark.sql.parquet.fieldId.write.enabled" -> "true")
      else Map.empty[String, String]
    val physFields = s.schema.fields.map(s.physicalField) ++ extraCols
    val proj = df.select((s.schema.fields.zip(s.schema.fields.map(s.physicalField))
      .map { case (lf, pf) =>
        val c = col(s"`${lf.name}`")
        val cc = if (pf.dataType == lf.dataType) c else c.cast(pf.dataType)
        cc.as(pf.name, pf.metadata)
      } ++ extraCols.map(f => col(s"`${f.name}`"))).toIndexedSeq: _*)
    val physPart = partCols.map { c =>
      s.physicalName(s.schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"unknown partition column $c")))
    }
    (proj, StructType(physFields), physPart, writeOpts)
  }

  /** `df` with every column of `schema` it omits (or that `refill` names)
    * whose field metadata holds an expression under `key` computed from
    * that expression, in place when present:
    *  - generated columns (`delta.generationExpression`, writer feature
    *    `generatedColumns`); a supplied value is checked against the
    *    expression in the write step instead;
    *  - column defaults (`CURRENT_DEFAULT`, Spark's default-value key,
    *    writer feature `allowColumnDefaults`), filled at write time only:
    *    rows in files written before the column existed still read NULL. */
  private[delta] def fillMissing(key: String, schema: StructType, df: DataFrame,
      refill: String => Boolean = _ => false): DataFrame =
    schema.fields.foldLeft(df) { (d, f) =>
      if (f.metadata.contains(key) &&
          (refill(f.name) || !d.columns.exists(_.equalsIgnoreCase(f.name))))
        d.withColumn(f.name, expr(f.metadata.getString(key)).cast(f.dataType))
      else d
    }

  /**
   * Overwrite write modes (delta-spark `mode("overwrite")` analog, beyond
   * the reference's read-only surface):
   *  - full overwrite (`replaceWhere=None`): ONE commit removing every
   *    current file (dataChange=true, DVs carried on the tombstones) and
   *    adding the new data — the table's content is replaced atomically,
   *    while every prior version stays time-travelable;
   *  - `replaceWhere=Some(p)`: rows matching `p` are soft-deleted via
   *    deletion vectors (same executor-side bitmap machinery as DELETE —
   *    O(#affected files) driver bytes) and the new data is added, one
   *    commit. Every incoming row must satisfy `p` (delta-spark's
   *    replaceWhere contract) — enforced as a codegen'd assert riding the
   *    write scan, never a second pass.
   *
   * Schema must match the table exactly (no mergeSchema on overwrite);
   * conflicts are errors, not retries — overwrite reads the state it
   * replaces.
   *
   * @return the committed version
   */
  def overwrite(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      replaceWhere: Option[org.apache.spark.sql.Column] = None,
      partitionBy: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      dynamicPartitions: Boolean = false): Long = {
    val log = DeltaLog.forPath(spark, path)
    if (!log.tableExists) {
      require(replaceWhere.isEmpty, "replaceWhere requires an existing table")
      return append(spark, df, path, partitionBy, configuration)
    }
    val snap = log.update()
    val op =
      if (dynamicPartitions) "OVERWRITE PARTITIONS"
      else if (replaceWhere.isDefined) "REPLACE WHERE" else "OVERWRITE"
    ProtocolGate.validateWrite(snap, op)
    val partCols = snap.metadata.partitionColumns
    require(!dynamicPartitions || replaceWhere.isEmpty,
      "dynamic partition overwrite and replaceWhere are mutually exclusive")
    require(!dynamicPartitions || partCols.nonEmpty,
      s"dynamic partition overwrite requires a partitioned table ($path is unpartitioned)")

    val (aligned, schema, identityMarks) = prepare(spark, df, path, Some(snap), mergeSchema = false)
    // replaceWhere contract: a row outside the predicate would silently
    // survive the logical replace — refuse the whole write instead
    val constrained = replaceWhere match {
      case Some(p) => aligned.filter(assert_true(
        coalesce(p, lit(false)),
        lit(s"replaceWhere violated overwriting $path: row does not satisfy $p")).isNull)
      case None => aligned
    }
    ConflictChecker.staging(log) { staged =>
      // overwritten data is NEW data: on row-tracked tables [[commit]]
      // assigns fresh ids past the mark
      val adds = write(spark, log, Some(snap), schema, constrained, partCols,
        snap.metadata.configuration, staged)
      val now = System.currentTimeMillis()
      val (removeActs, upgradeActs) = replaceWhere match {
        case None if dynamicPartitions =>
          // dynamic mode: replace exactly the partitions the incoming data
          // touched — read off the staged adds' partitionValues, so no
          // extra job runs and the physical-name encoding (column-mapped
          // tables) matches the existing files by construction
          val touched = adds.map(_.partitionValues).toSet
          (snap.allFiles.filter(f => touched.contains(f.partitionValues))
            .map(f => Action(f.removed(now))), Nil)
        case None =>
          (snap.allFiles.map(f => Action(f.removed(now))), Nil)
        case Some(cond) =>
          val hitRows = snap.relationDF(rows = RowSelection.All).where(cond)
            .select(col("_metadata.file_path").as("p"),
              col("_metadata.row_index").as("i"))
          val (dvActs, _) = DeltaDelete.dvActions(log, snap, hitRows, staged)
          (dvActs, DeltaDelete.protocolUpgradeActions(snap))
      }
      ConflictChecker.commit(log, Some(snap), op,
        (if (identityMarks.nonEmpty) Seq(Action(snap.metadata.copy(schemaString = schema.json)))
         else Nil) ++ upgradeActs ++ removeActs,
        params = Map(
          "filesAdded" -> adds.size.toString,
          "filesRemoved" -> removeActs.size.toString) ++
          replaceWhere.map(p => "predicate" -> p.toString),
        adds = adds, staged = staged,
        // full overwrite replaces EVERY live row its base snapshot listed —
        // any concurrent data change invalidates the remove set;
        // replaceWhere conflicts only with winners inside (or overlapping)
        // the predicate
        scope = replaceWhere match {
          // row-tracked/identity tables: the staged ids/marks were
          // computed against this snapshot, so ANY concurrent commit
          // (which may itself have assigned) must abort the rebase
          case Some(cond) if !RowTracking.enabled(snap) && identityMarks.isEmpty =>
            ConflictChecker.ReadScope.Predicate(ConflictChecker.resolve(snap, cond))
          case _ => ConflictChecker.ReadScope.WholeTable
        })
    }
  }

  /** Row-level write rules as a pass-through filter: every CHECK
    * constraint must hold, and a SUPPLIED generated column must equal its
    * generation expression. assert_true evaluates per row inside the write
    * scan (null when satisfied → row kept; throws naming the rule when
    * violated). */
  private def withWriteChecks(
      aligned: DataFrame,
      tableSchema: StructType,
      configuration: Map[String, String],
      path: String): DataFrame = {
    val checks = configuration.toSeq.collect {
      case (k, v) if k.startsWith("delta.constraints.") && v.nonEmpty =>
        // SQL CHECK semantics: a NULL predicate result passes
        (s"CHECK ${k.stripPrefix("delta.constraints.")}", s"coalesce(($v), true)")
    }
    val genChecks = tableSchema.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        val g = f.metadata.getString("delta.generationExpression")
        (s"generated column ${f.name}",
          s"`${f.name}` <=> CAST(($g) AS ${f.dataType.sql})")
    }
    (checks ++ genChecks).foldLeft(aligned) { case (d, (name, sql)) =>
      d.filter(assert_true(expr(sql),
        lit(s"$name violated writing to $path: $sql")).isNull)
    }
  }

  private[delta] def shreddingEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableVariantShredding").exists(_.equalsIgnoreCase("true"))

  /**
   * The one write step every table write runs: append, overwrite, the DML
   * rewrites (UPDATE, MERGE) and the id-stable rewrite of OPTIMIZE and
   * ZORDER. It applies the table's CHECK constraints and generated-column
   * checks to `rows` (an assert_true filter riding the write scan, so no
   * extra job), projects them to the table's PHYSICAL names on
   * column-mapped tables, writes them in place in one Spark job whose tasks
   * also collect each file's stats, enforces NOT NULL from those stats and
   * returns the (uncommitted) add actions. It runs inside the caller's
   * [[ConflictChecker.staging]] scope, whose `staged` buffer holds every
   * written file and deletes them again unless the commit lands.
   *
   * @param snapshot the table written to; None at create
   * @param schema the write schema: the table's, or the evolved one of a
   *   mergeSchema append, or the frame's at create
   * @param rows the logical rows of `schema`'s columns plus `passThrough`
   * @param configuration the configuration the write runs under: the
   *   table's (at create: the create config), after any row-id name
   *   minting of the rewrite it belongs to — it governs the checks, stats
   *   collection and the variant layout
   * @param passThrough physical columns written beyond the table schema:
   *   the materialized row-id columns of a rewrite on a row-tracked table
   * @param dataChange/clusteringProvider stamped on the add actions
   */
  private[delta] def write(
      spark: SparkSession,
      log: DeltaLog,
      snapshot: Option[Snapshot],
      schema: StructType,
      rows: DataFrame,
      partCols: Seq[String],
      configuration: Map[String, String],
      staged: ArrayBuffer[Path],
      passThrough: Seq[StructField] = Nil,
      dataChange: Boolean = true,
      clusteringProvider: Option[String] = None): Seq[AddFile] = {
    val (physical, physSchema, physPartCols, writeOptions) = toPhysical(snapshot, schema,
      withWriteChecks(rows, schema, configuration, log.tablePath.toString), partCols, passThrough)
    writeFiles(spark, log, physical, physSchema, physPartCols, staged, writeOptions,
      configuration, dataChange, clusteringProvider)
  }

  /** Write `aligned` (physical columns) in place and return its add
    * actions, NOT NULL enforced from the per-file stats. */
  private def writeFiles(
      spark: SparkSession,
      log: DeltaLog,
      aligned: DataFrame,
      tableSchema: StructType,
      partCols: Seq[String],
      staged: ArrayBuffer[Path],
      writeOptions: Map[String, String],
      configuration: Map[String, String],
      dataChange: Boolean,
      clusteringProvider: Option[String]): Seq[AddFile] = {
    val stats = statColumns(tableSchema, partCols, configuration)
    val written = InPlaceWrite(spark, aligned, log.tablePath, partCols, writeOptions,
      configuration, stats.map(_.agg), staged)
      .map(w => w -> fileStats(stats, w.numRecords, w.stats))

    // NOT NULL enforcement from stats (reference delta_insert.cpp:151-247)
    val notNullCols = tableSchema.fields.filterNot(_.nullable).map(_.name)
    written.foreach { case (_, fileStats) =>
      notNullCols.foreach { c =>
        if (fileStats.nullCounts.getOrElse(c, 0L) > 0)
          throw new IllegalStateException(
            s"NOT NULL constraint violated for column: $c")
      }
      // nested paths (reference ExtractNotNullConstraints,
      // delta_multi_file_list.cpp:567-584): violated only when the
      // parent struct is present but the child is null
      fileStats.nnViolations.foreach { case (path, n) =>
        if (n > 0)
          throw new IllegalStateException(
            s"NOT NULL constraint violated for nested column: $path")
      }
    }
    written.map { case (w, fileStats) =>
      AddFile(
        path = encodePath(w.path),
        partitionValues = w.partitionValues,
        size = w.size,
        modificationTime = w.modificationTime,
        dataChange = dataChange,
        stats = Some(fileStats.toJson),
        clusteringProvider = clusteringProvider)
    }
  }

  // -------------------------------------------------------------------------

  /** The common wider type of `table` and `incoming`, when one losslessly
    * contains the other (protocol type widening: integral chain,
    * float→double, decimal precision/scale growth). None = incompatible. */
  private[delta] def widenedType(table: DataType, incoming: DataType): Option[DataType] =
    widenedType(table, incoming, allowNewFields = false)

  /** Type reconciliation, now RECURSIVE through struct/array/map (nested
    * schema evolution — the reference's generated corpus evolves struct
    * fields, test/sql/generated/schema_evolution.test:24-37):
    *  - primitives widen along the protocol chain (integral ranks,
    *    float→double, decimal growth);
    *  - structs merge field-wise: fields present in both recurse; table
    *    fields MISSING from the incoming side are kept when nullable (the
    *    write null-fills them, mirroring the read-side rule); incoming
    *    fields unknown to the table are appended only under
    *    `allowNewFields` (mergeSchema), else the types are incompatible.
    * None = incompatible. */
  private[delta] def widenedType(table: DataType, incoming: DataType,
      allowNewFields: Boolean): Option[DataType] = {
    def intRank(dt: DataType): Int = dt match {
      case ByteType => 0; case ShortType => 1; case IntegerType => 2; case LongType => 3
      case _ => -1
    }
    (table, incoming) match {
      case (a, b) if a == b => Some(a)
      case (a: StructType, b: StructType) =>
        val extra = b.fields.filterNot(f =>
          a.fields.exists(_.name.equalsIgnoreCase(f.name)))
        if (extra.nonEmpty && !allowNewFields) None
        else {
          val mergedExisting = a.fields.map { tf =>
            b.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
              case Some(inF) =>
                widenedType(tf.dataType, inF.dataType, allowNewFields)
                  .map(m => tf.copy(dataType = m))
              case None => if (tf.nullable) Some(tf) else None
            }
          }
          if (mergedExisting.exists(_.isEmpty)) None
          else Some(StructType(mergedExisting.map(_.get) ++
            extra.map(f => f.copy(nullable = true))))
        }
      case (ArrayType(ae, an), ArrayType(be, bn)) =>
        widenedType(ae, be, allowNewFields).map(e => ArrayType(e, an || bn))
      case (MapType(ak, av, an), MapType(bk, bv, bn)) =>
        for { k <- widenedType(ak, bk, allowNewFields)
              v <- widenedType(av, bv, allowNewFields) } yield MapType(k, v, an || bn)
      case (a, b) if intRank(a) >= 0 && intRank(b) >= 0 =>
        if (intRank(a) >= intRank(b)) Some(a) else Some(b)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case (a: DecimalType, b: DecimalType) =>
        val scale = math.max(a.scale, b.scale)
        val intDigits = math.max(a.precision - a.scale, b.precision - b.scale)
        if (intDigits + scale <= DecimalType.MAX_PRECISION)
          Some(DecimalType(intDigits + scale, scale))
        else None
      case _ => None
    }
  }

  /** Expression aligning a value of type `from` to (compatible, possibly
    * evolved) type `to`: missing nullable struct fields become NULL,
    * shared fields recurse, primitives cast. A plain `cast` cannot do
    * this — Spark struct casts require identical field counts. */
  private[delta] def alignExpr(c: org.apache.spark.sql.Column,
      from: DataType, to: DataType): org.apache.spark.sql.Column = (from, to) match {
    case (f, t) if f == t => c
    case (f: StructType, t: StructType) =>
      val rebuilt = struct(t.fields.map { tf =>
        f.fields.find(_.name.equalsIgnoreCase(tf.name)) match {
          case Some(ff) => alignExpr(c.getField(ff.name), ff.dataType, tf.dataType).as(tf.name)
          case None => lit(null).cast(tf.dataType).as(tf.name)
        }
      }.toIndexedSeq: _*)
      when(c.isNull, lit(null).cast(t)).otherwise(rebuilt)
    case (ArrayType(fe, _), ArrayType(te, _)) if fe != te =>
      transform(c, x => alignExpr(x, fe, te))
    case (MapType(fk, fv, _), MapType(tk, tv, _)) if fk != tk || fv != tv =>
      when(c.isNull, lit(null).cast(to)).otherwise(
        map_from_arrays(
          transform(map_keys(c), k => alignExpr(k, fk, tk)),
          transform(map_values(c), v => alignExpr(v, fv, tv))))
    case _ => c.cast(to)
  }

  private[delta] case class FileStats(
      numRecords: Long,
      mins: Map[String, Any],
      maxs: Map[String, Any],
      nullCounts: Map[String, Long],
      /** nested-NOT-NULL violation counts (parent present, child null) —
        * enforcement only, never written to the stats JSON */
      nnViolations: Map[String, Long]) {
    def toJson: String = {
      // an EMPTY file records its zero rows, so readers (metadata-only
      // count, row-tracking enablement) can prove them instead of assuming
      // unknown
      if (numRecords == 0) return """{"numRecords":0}"""
      val root = ActionJson.mapper.createObjectNode()
      root.put("numRecords", numRecords)
      // dotted keys ("s.a") become nested objects {"s":{"a":v}} — the
      // protocol's nested stat-tree shape (reference delta_transaction.cpp:96-176)
      def nest(o: ObjectNode, key: String): (ObjectNode, String) = {
        val parts = key.split('.')
        var cur = o
        parts.dropRight(1).foreach { p =>
          cur = Option(cur.get(p)).collect { case n: ObjectNode => n }
            .getOrElse(cur.putObject(p))
        }
        (cur, parts.last)
      }
      def putVals(field: String, m: Map[String, Any]): Unit = {
        val o = root.putObject(field)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val (tgt, leaf) = nest(o, k)
          putStat(tgt, leaf, v)
        }
      }
      putVals("minValues", mins)
      putVals("maxValues", maxs)
      putVals("nullCount", nullCounts)
      root.put("tightBounds", true)
      ActionJson.mapper.writeValueAsString(root)
    }
  }

  private def putStat(o: ObjectNode, k: String, v: Any): Unit = v match {
    case null => ()
    case b: Byte => o.put(k, b.toInt)
    case s: Short => o.put(k, s.toInt)
    case i: Int => o.put(k, i)
    case l: Long => o.put(k, l)
    case f: Float => if (!f.isNaN && !f.isInfinite) o.put(k, f)
    case d: Double => if (!d.isNaN && !d.isInfinite) o.put(k, d)
    case d: java.math.BigDecimal => o.put(k, d)
    case s: String => o.put(k, s)
    case b: Boolean => o.put(k, b)
    case t: java.sql.Timestamp => o.put(k, t.toInstant.toString)
    case d: java.sql.Date => o.put(k, d.toLocalDate.toString)
    case ldt: java.time.LocalDateTime => o.put(k, ldt.toString)
    case other => o.put(k, other.toString)
  }

  private def statsEligible(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType | _: StringType |
         _: BooleanType | _: DateType | _: TimestampType | _: TimestampNTZType => true
    case _ => false
  }

  /** One per-file statistic: `kind` is "min", "max", "nc" (null count) or
    * "nnv" (nested NOT NULL violations, never written to the stats JSON),
    * `agg` its aggregate over a file's rows. */
  private[delta] final case class StatColumn(kind: String, key: String,
      agg: org.apache.spark.sql.Column)

  /** The stats a write collects per file (the analog of DuckDB's
    * WRITTEN_FILE_STATISTICS rows, delta_insert.cpp:114-234), as
    * aggregates over the file's rows: numRecords comes with every file,
    * these add min/max/nullCount per data column and the nested NOT NULL
    * violation counts. */
  private[delta] def statColumns(
      tableSchema: StructType,
      partCols: Seq[String],
      configuration: Map[String, String]): Seq[StatColumn] = {
    // row-tracked rewrites write the materialized row-id/commit-version
    // columns alongside the data; they are NOT table-schema columns, so
    // emitting min/max/nullCount for them would both diverge from the
    // protocol's stats shape and burn dataSkippingNumIndexedCols slots
    val matRowCols: Set[String] = Set(
      RowTracking.MatRowIdProp, RowTracking.MatRowVerProp)
      .flatMap(configuration.get)
    val dataFields = tableSchema.fields.filterNot(f =>
      partCols.contains(f.name) || matRowCols.contains(f.name))
    // stat targets: top-level leaves plus first-level struct leaves,
    // keyed by dotted path (nested stat tree on write)
    val allStatKeys: Seq[(String, org.apache.spark.sql.Column, DataType)] =
      dataFields.toSeq.flatMap { f =>
        f.dataType match {
          case s: StructType =>
            (f.name, col(s"`${f.name}`"), f.dataType) +:
              s.fields.toSeq.collect {
                case sub if statsEligible(sub.dataType) =>
                  (s"${f.name}.${sub.name}",
                    col(s"`${f.name}`").getField(sub.name), sub.dataType)
              }
          // variant columns carry NO stats fields at all — not even
          // nullCount (delta-kernel refuses variant stats; reference
          // inlined/variant/write_stats_no_variant_stats.test)
          case dt if dt == org.apache.spark.sql.types.VariantType => Nil
          case _ => Seq((f.name, col(s"`${f.name}`"), f.dataType))
        }
      }
    // delta.dataSkippingNumIndexedCols (delta-spark default 32, -1 = all):
    // cap the LEAF stat targets at the first N in schema order. A 1000-col
    // schema would otherwise pay 2000+ aggregates per write for skipping
    // stats nobody filters on; NOT NULL enforcement below is NOT capped —
    // it is a constraint, not an optimization.
    val numIndexed = configuration.get("delta.dataSkippingNumIndexedCols")
      .flatMap(_.trim.toIntOption).getOrElse(32)
    val statKeys =
      if (numIndexed < 0) allStatKeys else allStatKeys.take(numIndexed)
    def nullCount(key: String, c: org.apache.spark.sql.Column) =
      StatColumn("nc", key, sum(when(c.isNull, 1L).otherwise(0L)))
    // NOT NULL columns beyond the cap still need their nullCount — the
    // write-path constraint check reads it; only min/max skipping stats
    // are capped
    val kept = statKeys.map(_._1).toSet
    val nonNullable = dataFields.filterNot(_.nullable).map(_.name).toSet
    val ncOnly = allStatKeys.collect {
      case (key, c, _) if !kept.contains(key) && nonNullable.contains(key) =>
        nullCount(key, c)
    }
    // nested NOT NULL constraint paths: parent struct present, child null
    val nnViolations = dataFields.toSeq.flatMap { f =>
      val violated = f.dataType match {
        case s: StructType => s.fields.toSeq.collect {
          case sub if !sub.nullable =>
            (s"${f.name}.${sub.name}",
              col(s"`${f.name}`").isNotNull &&
                col(s"`${f.name}`").getField(sub.name).isNull)
        }
        // NOT NULL variant: enforced through the JSON-invisible
        // violation channel, since variant emits no nullCount stat
        case dt if dt == org.apache.spark.sql.types.VariantType &&
            !f.nullable =>
          Seq((f.name, col(s"`${f.name}`").isNull))
        case _ => Nil
      }
      violated.map { case (key, v) =>
        StatColumn("nnv", key, sum(when(v, 1L).otherwise(0L))) }
    }
    statKeys.flatMap { case (key, c, dt) =>
      (if (statsEligible(dt))
         Seq(StatColumn("min", key, min(c)), StatColumn("max", key, max(c)))
       else Nil) :+ nullCount(key, c)
    } ++ ncOnly ++ nnViolations
  }

  /** A file's [[FileStats]] from its row count and the values of
    * [[statColumns]] over its rows (Scala-typed, in column order; null =
    * no value). */
  private[delta] def fileStats(cols: Seq[StatColumn], numRecords: Long,
      values: Seq[Any]): FileStats = {
    def of(kind: String): Map[String, Any] = cols.zip(values).collect {
      case (c, v) if c.kind == kind && v != null => c.key -> v
    }.toMap
    def counts(kind: String) = of(kind).map { case (k, v) => k -> v.asInstanceOf[Long] }
    FileStats(numRecords, of("min"), of("max"), counts("nc"), counts("nnv"))
  }

  // -------------------------------------------------------------------------

  /** URL-encode each path segment, keeping '/' (protocol `add.path` form). */
  private[delta] def encodePath(rel: String): String =
    rel.split('/').map(seg =>
      URLEncoder.encode(seg, StandardCharsets.UTF_8).replace("+", "%20")).mkString("/")

  /** Hive-style `col=val` dirs → protocol partitionValues (null for
    * __HIVE_DEFAULT_PARTITION__; values %-unescaped, '+' kept). The change
    * feed reads a foreign remove's partition values this way when the log
    * entry lacks them. Reference equivalent: partition map from kernel
    * transform, delta_multi_file_list.cpp:347-417. */
  private[delta] def partitionValuesFromPath(rel: String, partCols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    if (partCols.isEmpty) return Map.empty
    val dirs = rel.split('/').dropRight(1)
    dirs.flatMap { d =>
      val i = d.indexOf('=')
      if (i <= 0) None
      else {
        val k = unescapePathName(d.substring(0, i))
        val v = unescapePathName(d.substring(i + 1))
        Some(k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null else v))
      }
    }.toMap
  }

  // -------------------------------------------------------------------------

  /** Build the append's actions against the latest snapshot and commit
    * them, re-planning on a version conflict (up to 10 attempts): the
    * idempotent skip, the schema and identity guards re-run each time. */
  private def commitAppend(
      log: DeltaLog,
      baseSnapshot: Option[Snapshot],
      adds: Seq[AddFile],
      staged: ArrayBuffer[Path],
      schema: StructType,
      partCols: Seq[String],
      configuration: Map[String, String],
      txnAppId: Option[String],
      txnVersion: Option[Long],
      operation: String): Long = {

    var snapshot = baseSnapshot
    var attempt = 0
    while (true) {
      attempt += 1
      val actions = ArrayBuffer.empty[Action]
      if (snapshot.isEmpty) {
        // identity, CDF and generated columns are writer contracts: a
        // foreign writer that can't assign ids, emit change data or
        // recompute generation expressions must refuse, not corrupt
        val createFeatures = Seq(
          Seq("rowTracking", "domainMetadata") -> RowTracking.enabledAtCreate(configuration),
          Seq("allowColumnDefaults") -> schema.fields.exists(_.metadata.contains("CURRENT_DEFAULT")),
          Seq("identityColumns") -> Identity.identityCols(schema).nonEmpty,
          Seq("changeDataFeed") ->
            configuration.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true")),
          Seq("generatedColumns") ->
            schema.fields.exists(_.metadata.contains("delta.generationExpression")),
          Seq("inCommitTimestamp") -> DeltaLog.ictEnabled(configuration))
          .collect { case (fs, true) => fs }.flatten
        // TIMESTAMP_NTZ / VARIANT (and shredded variant) columns imply
        // reader+writer features: readers that can't decode them must
        // refuse, not misread
        val typeFeats = ProtocolGate.typeFeatures(schema, configuration)
        actions += Action(
          if (createFeatures.nonEmpty || typeFeats.nonEmpty)
            Protocol(
              minReaderVersion = if (typeFeats.nonEmpty) 3 else 1,
              minWriterVersion = 7,
              readerFeatures = if (typeFeats.nonEmpty) Some(typeFeats) else None,
              writerFeatures = Some((createFeatures ++ typeFeats).distinct))
          else Protocol())
        actions += Action(graft.delta.Metadata(
          id = UUID.randomUUID.toString,
          schemaString = schema.json,
          partitionColumns = partCols,
          configuration = configuration,
          createdTime = Some(System.currentTimeMillis())))
      } else if (snapshot.get.metadata.schemaString != schema.json) {
        // schema evolution: re-emit metaData with the merged schema; a new
        // TIMESTAMP_NTZ/VARIANT column upgrades the protocol in the same
        // commit. On a shredding-enabled table (the property can be set
        // BEFORE any variant column exists — the create/setProperties
        // stamps skip it then) the commit that first brings a variant
        // column also brings the first shredded files, so
        // variantShredding-preview must ride the SAME upgrade.
        ProtocolGate.readerWriterFeatureUpgrade(snapshot.get.protocol,
          ProtocolGate.typeFeatures(schema, snapshot.get.metadata.configuration))
          .foreach(p => actions += Action(p))
        actions += Action(snapshot.get.metadata.copy(schemaString = schema.json))
      }
      for (app <- txnAppId; v <- txnVersion)
        actions += Action(SetTransaction(app, v, Some(System.currentTimeMillis())))
      try {
        return ConflictChecker.commit(log, snapshot, operation, actions.toSeq,
          params = Map("partitionBy" -> partCols.mkString(",")),
          metrics = Map(
            "numFiles" -> adds.size.toString,
            "numOutputRows" ->
              adds.flatMap(_.parsedStats.flatMap(_.numRecords)).sum.toString,
            "numOutputBytes" -> adds.map(_.size).sum.toString),
          adds = adds, staged = staged, maxAttempts = 1)
      } catch {
        case _: CommitConflictException if attempt < 10 =>
          val latest = log.update()
          // idempotent skip may now apply: another writer already performed
          // this txn — return without committing (the staging scope drops
          // our files)
          for (app <- txnAppId; v <- txnVersion;
               cur <- latest.setTransactions.get(app) if cur >= v) {
            return latest.version
          }
          // Retry is safe only when the winner did NOT change the schema
          // out from under us: either the latest schema already equals
          // what we intend to write (the metaData re-emit is then
          // skipped), or it still equals the schema we planned against
          // (our own evolution, if any, applies cleanly on top). Matching
          // merely on FIELD NAMES is not enough — re-emitting our stale
          // schemaString would silently revert a concurrent type
          // widening / nullability / column-metadata change while the
          // winner's files are live.
          require(latest.metadata.schemaString == schema.json ||
              baseSnapshot.exists(_.metadata.schemaString ==
                latest.metadata.schemaString),
            s"Concurrent metadata change on ${log.tablePath}")
          // identity safety: our staged files hold ids computed against the
          // BASE snapshot's high-water mark — a concurrent commit that
          // advanced any mark makes those ids collide, so abort (the
          // staging scope removes the staged files)
          baseSnapshot.foreach { b =>
            require(Identity.hwmUnchanged(b.schema, latest.metadata.schema),
              s"Concurrent identity assignment on ${log.tablePath}: " +
                "staged ids were computed against a stale high-water mark")
          }
          snapshot = Some(latest)
      }
    }
    -1L // unreachable
  }
}
