package graft.delta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, count, expr, lit, when}
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * ALTER TABLE surface (delta-spark DDL analog, beyond the reference's
 * read-only catalog): schema and property evolution as pure metadata
 * commits — no data is rewritten, so every operation is O(1) in table
 * size. Old files simply lack added columns (read as null, the same
 * add-column evolution path mergeSchema appends use).
 *
 * ADD CONSTRAINT scans once to prove existing data satisfies the new
 * predicate (delta-spark does the same) — one distributed count, the only
 * operation here that reads data.
 *
 * RENAME/DROP COLUMN require column mapping (the protocol's way of
 * divorcing logical names from the names stored in parquet) — this
 * engine reads AND writes mapped tables end-to-end (name + id mode), so
 * both are offered, gated on the table being mapped;
 * [[upgradeToColumnMapping]] converts an unmapped table in one
 * metadata-only commit (delta-spark's
 * `SET TBLPROPERTIES ('delta.columnMapping.mode'='name')` analog).
 */
object Alter {

  /** Append nullable columns to the table schema (ALTER TABLE ADD COLUMNS).
    * Existing files read them as null. */
  def addColumns(spark: SparkSession, log: DeltaLog,
      cols: Seq[StructField]): Long =
    addColumnsAt(spark, log, cols.map(f => (Nil: Seq[String], f)))

  /** ADD COLUMNS with nested targets: each entry is (parentPath, field)
    * where parentPath names a struct (possibly deep: `a.b`). Existing
    * files read the added field as NULL (nested add-column evolution —
    * the reference's generated corpus, schema_evolution.test:24-37). */
  def addColumnsAt(spark: SparkSession, log: DeltaLog,
      cols: Seq[(Seq[String], StructField)]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "ADD COLUMNS")
    require(cols.nonEmpty, "no columns to add")
    require(cols.forall(_._2.nullable),
      "added columns must be nullable (existing files have no values for them)")

    // column-mapped tables: mint a fresh physical name + column id per
    // added field (delta-spark's col-<uuid> convention) and advance
    // delta.columnMapping.maxColumnId — the logical name never reaches
    // the files
    var maxId: Long = {
      import org.apache.spark.sql.types.{ArrayType, MapType}
      def ids(dt: org.apache.spark.sql.types.DataType): Seq[Long] = dt match {
        case st: StructType => st.fields.toSeq.flatMap { f =>
          (if (f.metadata.contains("delta.columnMapping.id"))
            Seq(f.metadata.getLong("delta.columnMapping.id")) else Nil) ++ ids(f.dataType)
        }
        case ArrayType(e, _) => ids(e)
        case MapType(k, v, _) => ids(k) ++ ids(v)
        case _ => Nil
      }
      (snap.metadata.configuration.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).toSeq ++ ids(snap.schema) :+ 0L).max
    }
    // mint RECURSIVELY: the column-mapping protocol requires every nested
    // struct field (incl. inside array/map elements) to carry its own
    // physical name + id, or conforming readers refuse the whole table
    def mint(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.types.StructField = {
      import org.apache.spark.sql.types.{ArrayType, MapType}
      def mintType(dt: org.apache.spark.sql.types.DataType)
          : org.apache.spark.sql.types.DataType = dt match {
        case st: StructType => StructType(st.fields.map(mint))
        case ArrayType(e, n) => ArrayType(mintType(e), n)
        case MapType(k, v, n) => MapType(mintType(k), mintType(v), n)
        case other => other
      }
      maxId += 1
      // capture this field's id BEFORE recursing: mintType advances maxId
      // for nested descendants, and copy() evaluates dataType first
      val myId = maxId
      f.copy(
        dataType = mintType(f.dataType),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("delta.columnMapping.physicalName",
            s"col-${java.util.UUID.randomUUID()}")
          .putLong("delta.columnMapping.id", myId).build())
    }
    val mintedCols =
      if (snap.columnMappingMode == "none") cols
      else cols.map { case (parent, f) => (parent, mint(f)) }
    val newConfig =
      if (snap.columnMappingMode == "none") snap.metadata.configuration
      else snap.metadata.configuration +
        ("delta.columnMapping.maxColumnId" -> maxId.toString)

    def insertAt(schema: StructType, parent: Seq[String],
        field: StructField, fullPath: String): StructType =
      parent match {
        case Nil =>
          require(!schema.fields.exists(_.name.equalsIgnoreCase(field.name)),
            s"column already exists: $fullPath")
          StructType(schema.fields :+ field)
        case head +: rest =>
          val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(head))
          require(idx >= 0, s"no such column: $head (adding $fullPath)")
          val updated = schema.fields(idx).dataType match {
            case st: StructType => insertAt(st, rest, field, fullPath)
            case other => throw new IllegalArgumentException(
              s"cannot add nested column $fullPath: $head is ${other.sql}, not a struct")
          }
          StructType(schema.fields.updated(idx,
            schema.fields(idx).copy(dataType = updated)))
      }

    val newSchema = mintedCols.foldLeft(snap.schema) { case (sch, (parent, f)) =>
      insertAt(sch, parent, f, (parent :+ f.name).mkString("."))
    }
    commitMetadata(log, snap, "ADD COLUMNS",
      snap.metadata.copy(schemaString = newSchema.json, configuration = newConfig),
      // features a new column can introduce that create-path stamping
      // doesn't cover: defaults, generation expressions
      protocol = {
        val needed =
          (if (cols.exists(_._2.metadata.contains("CURRENT_DEFAULT")))
             Seq("allowColumnDefaults") else Nil) ++
          (if (cols.exists(_._2.metadata.contains("delta.generationExpression")) &&
               !(snap.protocol.writerFeatures match {
                 case Some(fs) => fs.contains("generatedColumns")
                 case None => snap.protocol.minWriterVersion >= 4
               }))
             Seq("generatedColumns") else Nil)
        val base =
          if (needed.isEmpty) None else featureUpgrade(snap.protocol, needed)
        // a new TIMESTAMP_NTZ/VARIANT column needs the reader+writer
        // type features too; on a table whose delta.enableVariantShredding
        // was set while no variant column existed (setProperties skips the
        // stamp then), the first variant column makes every subsequent
        // write shred, so variantShredding-preview must stamp HERE
        ProtocolGate.readerWriterFeatureUpgrade(base.getOrElse(snap.protocol),
          ProtocolGate.typeFeatures(org.apache.spark.sql.types.StructType(cols.map(_._2)),
            snap.metadata.configuration)).orElse(base)
      })
  }

  /** Upgrade an unmapped table to column mapping, NAME mode: each existing
    * field's physicalName is set to its CURRENT name — the names already
    * stored in every parquet file, so old data keeps resolving with zero
    * rewrites — and ids are minted depth-first. After this, RENAME/DROP
    * COLUMN are pure metadata operations and new ALTER-added columns get
    * uuid physical names. Id-mode upgrade is refused: existing files carry
    * no parquet field ids, so id resolution would read nothing.
    * (delta-spark analog: `SET TBLPROPERTIES
    * ('delta.columnMapping.mode'='name')`, same protocol floor.) */
  def upgradeToColumnMapping(spark: SparkSession, log: DeltaLog): Long = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, MetadataBuilder}
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "UPGRADE COLUMN MAPPING")
    require(snap.columnMappingMode == "none",
      s"column mapping is already '${snap.columnMappingMode}'")
    var maxId = 0L
    def tagType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(tag))
      case ArrayType(e, n) => ArrayType(tagType(e), n)
      case MapType(k, v, n) => MapType(tagType(k), tagType(v), n)
      case other => other
    }
    def tag(f: StructField): StructField = {
      maxId += 1
      val myId = maxId
      f.copy(
        dataType = tagType(f.dataType),
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString("delta.columnMapping.physicalName", f.name)
          .putLong("delta.columnMapping.id", myId).build())
    }
    val newSchema = StructType(snap.schema.fields.map(tag))
    // protocol floor for columnMapping: reader 2 / writer 5, or the
    // feature entry on feature-versioned protocols
    val p0 = snap.protocol
    val p1 =
      if (p0.minReaderVersion >= 3) p0.copy(readerFeatures = Some(
        (p0.readerFeatures.getOrElse(Nil) :+ "columnMapping").distinct))
      else if (p0.minReaderVersion < 2) p0.copy(minReaderVersion = 2)
      else p0
    val p2 =
      if (p1.minWriterVersion >= 7) p1.copy(writerFeatures = Some(
        (p1.writerFeatures.getOrElse(Nil) :+ "columnMapping").distinct))
      else if (p1.minWriterVersion < 5) p1.copy(minWriterVersion = 5)
      else p1
    commitMetadata(log, snap, "UPGRADE COLUMN MAPPING",
      snap.metadata.copy(
        schemaString = newSchema.json,
        configuration = snap.metadata.configuration +
          ("delta.columnMapping.mode" -> "name") +
          ("delta.columnMapping.maxColumnId" -> maxId.toString)),
      if (p2 != p0) Some(p2) else None)
  }

  /** RENAME COLUMN (top-level or nested `a.b.c` path): logical-name-only
    * change — physicalName and id travel with the field, so every existing
    * file keeps resolving. Requires column mapping; refused when a CHECK
    * constraint or generated column references the old name (their SQL
    * would silently break — delta-spark refuses identically). */
  def renameColumn(spark: SparkSession, log: DeltaLog,
      path: Seq[String], newName: String): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "RENAME COLUMN")
    requireMapped(snap, "RENAME COLUMN")
    require(newName.nonEmpty && !newName.contains("."), s"bad column name: $newName")
    refuseReferenced(snap, path.last, "rename")
    val newSchema = transformParent(snap.schema, path, path.mkString(".")) {
      (st, idx) =>
        require(!st.fields.zipWithIndex.exists { case (x, i) =>
          i != idx && x.name.equalsIgnoreCase(newName) },
          s"column already exists: $newName")
        StructType(st.fields.updated(idx, st.fields(idx).copy(name = newName)))
    }
    val newPartCols = snap.metadata.partitionColumns.map(c =>
      if (path.length == 1 && c.equalsIgnoreCase(path.head)) newName else c)
    commitMetadata(log, snap, "RENAME COLUMN",
      snap.metadata.copy(schemaString = newSchema.json,
        partitionColumns = newPartCols))
  }

  /** DROP COLUMN (top-level or nested): metadata-only — the physical data
    * stays in the files, unreferenced (delta-spark's contract; VACUUM of
    * history, not DROP, is what reclaims bytes). Requires column mapping;
    * partition columns and constraint/generated-column references are
    * refused. */
  def dropColumn(spark: SparkSession, log: DeltaLog, path: Seq[String]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "DROP COLUMN")
    requireMapped(snap, "DROP COLUMN")
    require(!(path.length == 1 &&
      snap.metadata.partitionColumns.exists(_.equalsIgnoreCase(path.head))),
      s"cannot drop partition column ${path.head}")
    refuseReferenced(snap, path.last, "drop")
    val newSchema = transformParent(snap.schema, path, path.mkString(".")) {
      (st, idx) =>
        require(st.fields.length > 1,
          s"cannot drop ${path.mkString(".")}: it is the only column at its level")
        StructType(st.fields.patch(idx, Nil, 1))
    }
    commitMetadata(log, snap, "DROP COLUMN",
      snap.metadata.copy(schemaString = newSchema.json))
  }

  private def requireMapped(snap: Snapshot, op: String): Unit =
    require(snap.columnMappingMode != "none",
      s"$op requires column mapping (physical names divorced from logical); " +
        "upgrade first: Alter.upgradeToColumnMapping / ALTER TABLE ... SET " +
        "TBLPROPERTIES ('delta.columnMapping.mode'='name')")

  /** Apply `f(parentStruct, fieldIndex)` at the struct containing `path`'s
    * last segment, recursing through nested structs. */
  private def transformParent(schema: StructType, path: Seq[String],
      fullPath: String)(f: (StructType, Int) => StructType): StructType =
    path match {
      case Seq(last) =>
        val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(last))
        require(idx >= 0, s"no such column: $fullPath")
        f(schema, idx)
      case head +: rest =>
        val idx = schema.fields.indexWhere(_.name.equalsIgnoreCase(head))
        require(idx >= 0, s"no such column: $fullPath")
        schema.fields(idx).dataType match {
          case st: StructType =>
            StructType(schema.fields.updated(idx, schema.fields(idx)
              .copy(dataType = transformParent(st, rest, fullPath)(f))))
          case other => throw new IllegalArgumentException(
            s"cannot alter nested column $fullPath: $head is ${other.sql}, not a struct")
        }
    }

  /** A rename/drop of a column referenced by a CHECK constraint or a
    * generated-column expression would leave that SQL silently broken. */
  private def refuseReferenced(snap: Snapshot, name: String, what: String): Unit = {
    val word = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    snap.metadata.configuration.foreach { case (k, v) =>
      if (k.startsWith("delta.constraints.") && word.findFirstIn(v).isDefined)
        throw new IllegalArgumentException(
          s"cannot $what column $name: referenced by CHECK constraint " +
            s"${k.stripPrefix("delta.constraints.")} ($v)")
    }
    def walk(st: StructType): Unit = st.fields.foreach { fld =>
      if (fld.metadata.contains("delta.generationExpression") &&
          word.findFirstIn(fld.metadata.getString("delta.generationExpression")).isDefined)
        throw new IllegalArgumentException(
          s"cannot $what column $name: referenced by generated column ${fld.name}")
      fld.dataType match {
        case s: StructType => walk(s)
        case _ => ()
      }
    }
    walk(snap.schema)
  }

  /** SET TBLPROPERTIES: merge `props` into the table configuration.
    * Protocol-relevant keys (delta.appendOnly, delta.constraints.*, …)
    * take effect on the NEXT write, exactly like delta-spark. Setting
    * `delta.columnMapping.mode` routes through the real upgrade
    * (physical-name minting + protocol floor) — writing the property
    * alone would advertise a mapping the schema doesn't carry. */
  def setProperties(spark: SparkSession, log: DeltaLog,
      props: Map[String, String]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "SET TBLPROPERTIES")
    require(props.nonEmpty, "no properties to set")
    props.get("delta.columnMapping.mode") match {
      case Some(m) if m != snap.columnMappingMode =>
        require(m == "name" && snap.columnMappingMode == "none",
          s"only the none -> name column-mapping upgrade is supported " +
            s"(existing files carry no parquet field ids for id mode); " +
            s"have '${snap.columnMappingMode}', asked '$m'")
        val v = upgradeToColumnMapping(spark, log)
        val rest = props - "delta.columnMapping.mode"
        if (rest.isEmpty) return v
        return setProperties(spark, log, rest)
      case _ => ()
    }
    // enabling row tracking on a table with existing files would require a
    // baseRowId backfill of every add action — refuse rather than leave a
    // table whose old rows have no ids (delta-spark runs a backfill job
    // here; enable at CREATE instead)
    val enablingRt =
      props.get("delta.enableRowTracking").exists(_.equalsIgnoreCase("true")) &&
        !RowTracking.enabled(snap)
    // zero-record files need no backfill; files WITHOUT stats must be
    // assumed non-empty
    val hasRows = snap.allFiles.exists(f =>
      !f.parsedStats.flatMap(_.numRecords).contains(0L))
    if (enablingRt && hasRows)
      throw new UnsupportedOperationException(
        "cannot enable row tracking on a non-empty table: existing files " +
          "carry no baseRowId (enable delta.enableRowTracking at creation)")
    // …and on an EMPTY table the protocol must advertise the writer
    // features in the SAME commit: subsequent appends write baseRowId
    // fields + the delta.rowTracking domainMetadata, which foreign writers
    // only honor under minWriterVersion 7 + rowTracking/domainMetadata
    // v2 checkpoints are a reader-visible layout change: stamp the
    // v2Checkpoint reader+writer features with the policy property
    val enablingV2 =
      props.get("delta.checkpointPolicy").exists(_.trim.equalsIgnoreCase("v2")) &&
        !snap.protocol.readerFeatures.exists(_.contains("v2Checkpoint"))
    // enabling CDF on an existing table: same writer-contract stamping
    // legacy versions ≥4 imply the feature ONLY when the protocol has no
    // feature list; a feature-versioned protocol must name it explicitly
    def hasWriterFeature(name: String, legacyFloor: Int): Boolean =
      snap.protocol.writerFeatures match {
        case Some(fs) => fs.contains(name)
        case None => snap.protocol.minWriterVersion >= legacyFloor
      }
    val enablingCdf =
      props.get("delta.enableChangeDataFeed").exists(_.equalsIgnoreCase("true")) &&
        !hasWriterFeature("changeDataFeed", 4)
    // enabling ICT mid-history: stamp the feature plus the enablement
    // provenance properties (which version/timestamp ICT starts at — time
    // travel below it falls back to file timestamps, per protocol)
    val enablingIct =
      props.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true")) &&
        !DeltaLog.ictEnabled(snap.metadata.configuration)
    val ictProps: Map[String, String] =
      if (!enablingIct) Map.empty
      else Map(
        "delta.inCommitTimestampEnablementVersion" -> (snap.version + 1).toString,
        "delta.inCommitTimestampEnablementTimestamp" ->
          System.currentTimeMillis().toString)
    val p1 =
      if (enablingRt)
        featureUpgrade(snap.protocol, Seq("rowTracking", "domainMetadata"))
      else None
    val p2 =
      if (enablingCdf) featureUpgrade(p1.getOrElse(snap.protocol), Seq("changeDataFeed"))
        .orElse(p1)
      else p1
    val p3 =
      if (enablingIct)
        featureUpgrade(p2.getOrElse(snap.protocol), Seq("inCommitTimestamp"))
          .orElse(p2)
      else p2
    val p4 =
      if (enablingV2) Some(v2CheckpointUpgrade(p3.getOrElse(snap.protocol)))
      else p3
    // enabling variant shredding mid-history: shredded files are a
    // reader-visible layout, so the feature stamps BOTH sides in the same
    // commit that sets the property (only meaningful on variant tables)
    val enablingShred =
      props.get("delta.enableVariantShredding").exists(_.equalsIgnoreCase("true")) &&
        ProtocolGate.typeFeatures(snap.schema).contains("variantType")
    val p5 =
      if (enablingShred)
        ProtocolGate.readerWriterFeatureUpgrade(p4.getOrElse(snap.protocol),
          Seq("variantShredding-preview")).orElse(p4)
      else p4
    commitMetadata(log, snap, "SET TBLPROPERTIES",
      snap.metadata.copy(
        configuration = snap.metadata.configuration ++ props ++ ictProps),
      protocol = p5)
  }

  /** `v2Checkpoint` is both a reader and a writer feature: writer side
    * through [[featureUpgrade]], reader side to minReaderVersion 3 with
    * legacy-implied reader features carried along. */
  private[delta] def v2CheckpointUpgrade(p: Protocol): Protocol = {
    val wUp = featureUpgrade(p, Seq("v2Checkpoint")).getOrElse(p)
    val haveR = wUp.readerFeatures.getOrElse(Nil).toSet
    val impliedR =
      if (wUp.readerFeatures.isDefined) Nil
      else ProtocolGate.legacyImpliedReaderFeatures(wUp.minReaderVersion)
    wUp.copy(minReaderVersion = 3,
      readerFeatures = Some((haveR.toSeq ++ impliedR ++ Seq("v2Checkpoint")).distinct))
  }

  /** Writer-feature protocol upgrade: returns the protocol to commit when
    * `needed` features are not yet advertised (None = already covered).
    * Upgrading a legacy protocol to table features (minWriterVersion 7)
    * must carry the features the legacy version implied, per the protocol
    * spec's "Table Features" upgrade rule. */
  private[delta] def featureUpgrade(p: Protocol, needed: Seq[String]): Option[Protocol] = {
    val have = p.writerFeatures.getOrElse(Nil).toSet
    val missing = needed.filterNot(have.contains)
    if (missing.isEmpty && p.minWriterVersion >= 7) None
    else {
      val legacyImplied =
        if (p.writerFeatures.isDefined) Nil
        else ProtocolGate.legacyImpliedWriterFeatures(p.minWriterVersion)
      Some(p.copy(minWriterVersion = 7,
        writerFeatures = Some((have.toSeq ++ legacyImplied ++ missing).distinct)))
    }
  }

  /** UNSET TBLPROPERTIES (missing keys are ignored, like delta-spark's
    * IF EXISTS form). */
  def unsetProperties(spark: SparkSession, log: DeltaLog,
      keys: Seq[String]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "UNSET TBLPROPERTIES")
    commitMetadata(log, snap, "UNSET TBLPROPERTIES",
      snap.metadata.copy(configuration = snap.metadata.configuration -- keys))
  }

  /** ADD CONSTRAINT name CHECK (sql): verifies EXISTING rows satisfy the
    * predicate (one distributed aggregate over the live table — null
    * predicate results pass, SQL CHECK semantics), then commits
    * `delta.constraints.<name>`. Subsequent writes enforce it in the write
    * pass (DeltaWriter.withWriteChecks). */
  def addCheckConstraint(spark: SparkSession, log: DeltaLog,
      name: String, sql: String): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "ADD CONSTRAINT")
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be alphanumeric: $name")
    val key = s"delta.constraints.$name"
    require(!snap.metadata.configuration.contains(key),
      s"constraint $name already exists")
    val violations = snap.toDF
      .agg(count(when(!coalesce(expr(sql), lit(true)), 1)).as("v"))
      .collect()(0).getLong(0)
    if (violations > 0)
      throw new IllegalStateException(
        s"cannot add CHECK constraint $name: $violations existing row(s) violate ($sql)")
    // constraint enforcement is a writer-feature contract: make sure the
    // protocol advertises it so foreign writers that can't honor it refuse
    val p = snap.protocol
    val upgraded =
      if (p.minWriterVersion >= 7 &&
          !p.writerFeatures.getOrElse(Nil).contains("checkConstraints"))
        Some(p.copy(writerFeatures = Some(
          (p.writerFeatures.getOrElse(Nil) :+ "checkConstraints").distinct)))
      else if (p.minWriterVersion < 3) Some(p.copy(minWriterVersion = 3))
      else None
    commitMetadata(log, snap, "ADD CONSTRAINT",
      snap.metadata.copy(configuration = snap.metadata.configuration + (key -> sql)),
      upgraded)
  }

  /** DROP CONSTRAINT (missing name is an error, matching delta-spark
    * without IF EXISTS). */
  def dropCheckConstraint(spark: SparkSession, log: DeltaLog,
      name: String): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "DROP CONSTRAINT")
    val key = s"delta.constraints.$name"
    require(snap.metadata.configuration.contains(key),
      s"no such constraint: $name")
    commitMetadata(log, snap, "DROP CONSTRAINT",
      snap.metadata.copy(configuration = snap.metadata.configuration - key))
  }

  private def commitMetadata(log: DeltaLog, snap: Snapshot, op: String,
      md: Metadata, protocol: Option[Protocol] = None): Long =
    // metadata changes read current state: conflicts are errors, no retry.
    // `md` is the commit's own metaData, so the commit that ENABLES ICT
    // already carries one, per protocol
    ConflictChecker.commit(log, Some(snap), op,
      protocol.map(Action(_)).toSeq :+ Action(md), maxAttempts = 1)
}
