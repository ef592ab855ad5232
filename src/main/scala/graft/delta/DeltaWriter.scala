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
    val exists = log.tableExists
    val snapshot = if (exists) Some(log.update()) else None

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

    val genFilled00 = fillGenerated(snapshot, df)
    val genFilled0 = fillDefaults(
      snapshot.map(_.schema).getOrElse(genFilled00.schema), genFilled00)

    // identity columns: auto-assign when missing (distributed prefix sum),
    // sync the high-water mark when explicit; the new mark is committed in
    // the SAME version via the schema re-emit below. At creation the
    // supplied values seed the mark.
    val (genFilled, identityMarks) = Identity.fill(spark,
      snapshot.map(_.schema).getOrElse(df.schema), genFilled0,
      creating = snapshot.isEmpty)

    // column alignment + schema validation against the table; with
    // mergeSchema, unseen columns extend the schema and existing columns
    // may WIDEN (int→long, float→double, decimal growth — the protocol's
    // type-widening evolution; old files upcast on read). Incoming columns
    // NARROWER than the table type are upcast before writing either way.
    val (aligned, tableSchema0) = snapshot match {
      case Some(s) =>
        val have = genFilled.columns.map(_.toLowerCase).toSet
        val want = s.schema.fieldNames.map(_.toLowerCase).toSet
        def dfField(name: String): StructField =
          genFilled.schema.fields.find(_.name.equalsIgnoreCase(name)).get
        def castTo(target: StructField): org.apache.spark.sql.Column = {
          val in = dfField(target.name)
          alignExpr(col(s"`${in.name}`"), in.dataType, target.dataType).as(target.name)
        }
        if (mergeSchema) {
          require(want.subsetOf(have),
            s"mergeSchema append must contain all table columns; missing ${(want -- have).toSeq.sorted}")
          val newCols = genFilled.columns.filterNot(c => s.schema.fieldNames.exists(_.equalsIgnoreCase(c)))
          val mergedExisting = s.schema.fields.map { tf =>
            widenedType(tf.dataType, dfField(tf.name).dataType, allowNewFields = true) match {
              case Some(w) => tf.copy(dataType = w)
              case None => throw new IllegalArgumentException(
                s"Cannot merge types for column ${tf.name}: " +
                  s"table ${tf.dataType.sql}, data ${dfField(tf.name).dataType.sql}")
            }
          }
          val evolved = StructType(mergedExisting ++
            newCols.map(c => genFilled.schema(genFilled.schema.fieldIndex(c)).copy(nullable = true)))
          (genFilled.select(evolved.fields.map(castTo).toIndexedSeq: _*), evolved)
        } else {
          require(have == want,
            s"Schema mismatch appending to $path: have ${have.toSeq.sorted}, want ${want.toSeq.sorted}")
          s.schema.fields.foreach { tf =>
            val inT = dfField(tf.name).dataType
            // incoming must align INTO the table type unchanged: narrower
            // primitives upcast, struct fields missing from the incoming
            // side null-fill (nested add-column evolution — old-shape
            // writers keep working after an ALTER), but nothing that would
            // WIDEN the table schema without mergeSchema.
            require(widenedType(tf.dataType, inT).contains(tf.dataType),
              s"Type mismatch for column ${tf.name}: table ${tf.dataType.sql}, " +
                s"data ${inT.sql} (not losslessly alignable; use mergeSchema to widen)")
          }
          (genFilled.select(s.schema.fields.map(castTo).toIndexedSeq: _*), s.schema)
        }
      case None => (genFilled, genFilled.schema)
    }
    // advanced identity high-water marks ride the same commit (the
    // schemaString comparison in commitAppend re-emits metaData)
    val tableSchema = Identity.withMarks(tableSchema0, identityMarks)

    // reference rejects appends to EXISTING tables whose schema carries
    // NOT NULL array-element constraints (delta_table_entry.cpp:99-103);
    // creating a table from such a DataFrame is fine
    if (snapshot.isDefined) {
      tableSchema.fields.foreach { f =>
        f.dataType match {
          case ArrayType(_, false) =>
            throw new UnsupportedOperationException(
              s"Writes to tables with non-nullable array elements are not supported (column ${f.name})")
          case _ => ()
        }
      }
    }

    // ---- CHECK constraints (`delta.constraints.<name>` configuration,
    // protocol writer feature `checkConstraints`) and generated-column
    // equality: enforced IN the write pass itself via assert_true — one
    // codegen'd predicate riding the existing write scan, never a second
    // validation job over the data (the 100 TB-sound shape); a violation
    // fails the job and the staging scope removes staged files
    val enforced = withWriteChecks(aligned, tableSchema,
      snapshot.map(_.metadata.configuration).getOrElse(configuration), path)

    // write + stats (executors), then commit with retry.
    // (mergeSchema may have EVOLVED tableSchema beyond snap.schema — only
    // the mapped branch may use the snapshot's schema, where mergeSchema
    // is refused.)
    val (toStage, stageSchema, stagePartCols, stageOpts) = snapshot match {
      case Some(s) if s.columnMappingMode != "none" =>
        toPhysical(spark, s, enforced, partCols)
      case _ => (enforced, tableSchema, partCols, Map.empty[String, String])
    }
    ConflictChecker.staging(log) { staged =>
      val adds = writeFiles(spark, log, toStage, stageSchema, stagePartCols,
        staged, stageOpts,
        snapshot.map(_.metadata.configuration).getOrElse(configuration))
      commitAppend(log, snapshot, adds, staged, tableSchema, partCols,
        configuration, txnAppId, txnVersion, operation)
    }
  }

  /** Project `df` (logical column names) to the snapshot's PHYSICAL
    * rendition: parquet files, stats keys and partitionValues of
    * column-mapped tables are keyed by physical name; id mode also stamps
    * `parquet.field.id` so readers resolve by id. Nested struct renames
    * (and id-mode nested field ids) ride a positional cast to the physical
    * TYPE. Returns the extra per-write options the staging write needs —
    * id mode enables field-id writing via the job hadoopConf, never by
    * mutating the session conf. */
  private[delta] def toPhysical(spark: SparkSession, s: Snapshot,
      df: DataFrame, partCols: Seq[String],
      /** physical pass-through columns beyond the table schema (the
        * row-tracking rewrite's materialized id columns) */
      extraCols: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : (DataFrame, StructType, Seq[String], Map[String, String]) = {
    if (s.columnMappingMode == "none")
      return (df, StructType(s.schema.fields ++ extraCols), partCols, Map.empty)
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

  /** Column defaults (field metadata `CURRENT_DEFAULT` — Spark's own
    * default-value metadata key — protocol writer feature
    * `allowColumnDefaults`): an incoming frame may omit the column and the
    * engine fills the default EXPRESSION at write time. Write-time only,
    * per the Delta feature: rows in files written before the column
    * existed still read as NULL. */
  private[delta] def fillDefaults(schema: StructType, df: DataFrame): DataFrame =
    schema.fields.foldLeft(df) { (d, f) =>
      if (f.metadata.contains("CURRENT_DEFAULT") &&
          !d.columns.exists(_.equalsIgnoreCase(f.name)))
        d.withColumn(f.name,
          org.apache.spark.sql.functions.expr(
            f.metadata.getString("CURRENT_DEFAULT")).cast(f.dataType))
      else d
    }

  private[delta] def hasDefaults(schema: StructType): Boolean =
    schema.fields.exists(_.metadata.contains("CURRENT_DEFAULT"))

  /** Generated columns (field metadata `delta.generationExpression`,
    * protocol writer feature `generatedColumns`): a writer may omit the
    * column entirely — the engine computes it from the expression; a
    * supplied value is validated against the expression in the write pass
    * (withWriteChecks). */
  private[delta] def fillGenerated(snapshot: Option[Snapshot], df: DataFrame): DataFrame =
    snapshot match {
      case Some(s) =>
        s.schema.fields.foldLeft(df) { (d, f) =>
          if (f.metadata.contains("delta.generationExpression") &&
              !d.columns.exists(_.equalsIgnoreCase(f.name)))
            d.withColumn(f.name,
              org.apache.spark.sql.functions.expr(
                f.metadata.getString("delta.generationExpression")).cast(f.dataType))
          else d
        }
      case None => df
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
    ProtocolGate.validateWrite(snap,
      if (replaceWhere.isDefined) "REPLACE WHERE" else "OVERWRITE")
    val partCols = snap.metadata.partitionColumns
    require(!dynamicPartitions || replaceWhere.isEmpty,
      "dynamic partition overwrite and replaceWhere are mutually exclusive")
    require(!dynamicPartitions || partCols.nonEmpty,
      s"dynamic partition overwrite requires a partitioned table ($path is unpartitioned)")

    val genFilled1 = fillDefaults(snap.schema, fillGenerated(Some(snap), df))
    // identity columns: same contract as append — missing columns
    // auto-assign from the mark, explicit values refuse unless
    // allowExplicitInsert and sync the mark (committed via the metadata
    // re-emit below); overwritten rows are NEW data, never id reuse
    val (genFilled, identityMarks) = Identity.fill(spark, snap.schema, genFilled1)
    val have = genFilled.columns.map(_.toLowerCase).toSet
    val want = snap.schema.fieldNames.map(_.toLowerCase).toSet
    require(have == want,
      s"Schema mismatch overwriting $path: have ${have.toSeq.sorted}, want ${want.toSeq.sorted}")
    val aligned0 = genFilled.select(snap.schema.fields.map { tf =>
      val in = genFilled.schema.fields.find(_.name.equalsIgnoreCase(tf.name)).get
      require(widenedType(tf.dataType, in.dataType).contains(tf.dataType),
        s"Type mismatch for column ${tf.name}: table ${tf.dataType.sql}, data ${in.dataType.sql}")
      alignExpr(col(s"`${in.name}`"), in.dataType, tf.dataType).as(tf.name)
    }.toIndexedSeq: _*)
    // replaceWhere contract: a row outside the predicate would silently
    // survive the logical replace — refuse the whole write instead
    val constrained = replaceWhere match {
      case Some(p) => aligned0.filter(assert_true(
        coalesce(p, lit(false)),
        lit(s"replaceWhere violated overwriting $path: row does not satisfy $p")).isNull)
      case None => aligned0
    }
    val enforced = withWriteChecks(constrained, snap.schema,
      snap.metadata.configuration, path)

    val (toStage, stageSchema, stagePartCols, stageOpts) =
      toPhysical(spark, snap, enforced, partCols)
    ConflictChecker.staging(log) { staged =>
      // overwritten data is NEW data: on row-tracked tables [[commit]]
      // assigns fresh ids past the mark
      val adds = writeFiles(spark, log, toStage, stageSchema, stagePartCols, staged, stageOpts,
        snap.metadata.configuration)
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
      val op =
        if (dynamicPartitions) "OVERWRITE PARTITIONS"
        else if (replaceWhere.isDefined) "REPLACE WHERE" else "OVERWRITE"
      ConflictChecker.commit(log, Some(snap), op,
        (if (identityMarks.nonEmpty)
           Seq(Action(snap.metadata.copy(schemaString =
             Identity.withMarks(snap.schema, identityMarks).json)))
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
  private[delta] def withWriteChecks(
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
        lit(s"$name violated appending to $path: $sql")).isNull)
    }
  }

  private[delta] def shreddingEnabled(conf: Map[String, String]): Boolean =
    conf.get("delta.enableVariantShredding").exists(_.equalsIgnoreCase("true"))

  /**
   * Write `aligned` as parquet files in place under the table root, in ONE
   * Spark job whose tasks also collect each file's stats; enforce NOT NULL
   * from those stats and return the (uncommitted) add actions. The caller
   * commits; `staged` is the buffer of a [[ConflictChecker.staging]]
   * scope, which holds every written file before any check runs and
   * deletes them again unless the commit lands.
   */
  private[delta] def writeFiles(
      spark: SparkSession,
      log: DeltaLog,
      aligned: DataFrame,
      tableSchema: StructType,
      partCols: Seq[String],
      staged: ArrayBuffer[Path],
      writeOptions: Map[String, String],
      /** the table configuration (at create: the create config), which
        * governs stats collection and the variant layout */
      configuration: Map[String, String]): Seq[AddFile] = {
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
        dataChange = true,
        stats = Some(fileStats.toJson))
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
        val createFeatures =
          (if (RowTracking.enabledAtCreate(configuration))
             Seq("rowTracking", "domainMetadata") else Nil) ++
            (if (hasDefaults(schema)) Seq("allowColumnDefaults") else Nil) ++
            // declare the feature so foreign writers that don't implement
            // identity assignment refuse instead of planting stale ids
            (if (Identity.identityCols(schema).nonEmpty) Seq("identityColumns")
             else Nil) ++
            // CDF and generated columns are writer contracts too: a foreign
            // writer that can't emit change data / recompute generation
            // expressions must refuse, not corrupt
            (if (configuration.get("delta.enableChangeDataFeed")
                 .exists(_.equalsIgnoreCase("true"))) Seq("changeDataFeed")
             else Nil) ++
            (if (schema.fields.exists(
                 _.metadata.contains("delta.generationExpression")))
               Seq("generatedColumns")
             else Nil) ++
            (if (DeltaLog.ictEnabled(configuration)) Seq("inCommitTimestamp")
             else Nil)
        // TIMESTAMP_NTZ / VARIANT columns imply reader+writer features:
        // readers that can't decode them must refuse, not misread. A
        // shredding-enabled variant table additionally advertises
        // variantShredding-preview on BOTH sides — shredded files are a
        // reader-visible physical layout.
        val typeFeats0 = ProtocolGate.typeFeatures(schema)
        val typeFeats =
          if (shreddingEnabled(configuration) && typeFeats0.contains("variantType"))
            typeFeats0 :+ "variantShredding-preview"
          else typeFeats0
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
        val evoFeats0 = ProtocolGate.typeFeatures(schema)
        val evoFeats =
          if (shreddingEnabled(snapshot.get.metadata.configuration) &&
              evoFeats0.contains("variantType"))
            evoFeats0 :+ "variantShredding-preview"
          else evoFeats0
        ProtocolGate.readerWriterFeatureUpgrade(snapshot.get.protocol,
          evoFeats).foreach(p => actions += Action(p))
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
