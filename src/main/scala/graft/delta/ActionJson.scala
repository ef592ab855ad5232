package graft.delta

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import scala.jdk.CollectionConverters._

/**
 * Single-line JSON (de)serialization of log actions, matching the wire
 * format the reference reads/writes through delta-kernel-rs (example
 * fixture: reference data/inlined/simple_table/delta_lake/_delta_log/
 * 00000000000000000000.json).
 *
 * Hand-rolled over jackson `JsonNode` (on Spark's classpath) instead of
 * data-binding: partitionValues may contain JSON nulls, `stats` must stay
 * a raw embedded JSON string, and unknown fields must be ignored.
 */
object ActionJson {
  val mapper = new ObjectMapper()

  // ---------------- parse ----------------

  def parseLine(line: String): Option[Action] = {
    val t = line.trim
    if (t.isEmpty) return None
    fromNode(mapper.readTree(t))
  }

  /** All JSON documents in a commit file, tolerant of layout: the Delta
    * spec says one action per line, but real foreign-written fixtures
    * exist with pretty-printed multi-line actions (reference
    * data/inlined/null_constraints_lists/.../00000000000000000000.json is
    * a concatenation of indented objects). Jackson's MappingIterator
    * consumes concatenated JSON documents regardless of whitespace, so
    * both layouts parse identically. */
  def parseDocuments(txt: String): Seq[JsonNode] = {
    val it = mapper.readerFor(classOf[JsonNode]).readValues[JsonNode](txt)
    val buf = scala.collection.mutable.ArrayBuffer.empty[JsonNode]
    while (it.hasNext) buf += it.next()
    buf.toSeq
  }

  /** Parse a whole commit file's text into actions (layout-tolerant). */
  def parseAll(txt: String): Seq[Action] = parseDocuments(txt).flatMap(fromNode)

  def fromNode(n: JsonNode): Option[Action] = {
    if (n.has("add")) Some(Action(add = Some(parseAdd(n.get("add")))))
    else if (n.has("remove")) Some(Action(remove = Some(parseRemove(n.get("remove")))))
    else if (n.has("metaData")) Some(Action(metaData = Some(parseMetadata(n.get("metaData")))))
    else if (n.has("protocol")) Some(Action(protocol = Some(parseProtocol(n.get("protocol")))))
    else if (n.has("txn")) Some(Action(txn = Some(parseTxn(n.get("txn")))))
    else if (n.has("domainMetadata")) Some(Action(domainMetadata = Some(parseDomainMetadata(n.get("domainMetadata")))))
    else if (n.has("commitInfo")) Some(Action(commitInfo = Some(parseCommitInfo(n.get("commitInfo")))))
    else if (n.has("cdc")) Some(Action(cdc = Some(parseCdc(n.get("cdc")))))
    else None // future actions: ignored
  }

  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText)
  private def optLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong)
  private def optInt(n: JsonNode, f: String): Option[Int] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asInt)
  private def strMap(n: JsonNode, f: String): Map[String, String] =
    Option(n.get(f)).filterNot(_.isNull).map { m =>
      m.properties().asScala.map { e =>
        e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
      }.toMap
    }.getOrElse(Map.empty)
  private def strSeq(n: JsonNode, f: String): Seq[String] =
    Option(n.get(f)).filterNot(_.isNull)
      .map(_.elements().asScala.map(_.asText).toSeq).getOrElse(Nil)

  def parseDv(n: JsonNode): DeletionVectorDescriptor =
    DeletionVectorDescriptor(
      storageType = n.get("storageType").asText,
      pathOrInlineDv = n.get("pathOrInlineDv").asText,
      offset = optInt(n, "offset"),
      sizeInBytes = n.get("sizeInBytes").asInt,
      cardinality = n.get("cardinality").asLong)

  def parseAdd(n: JsonNode): AddFile =
    AddFile(
      path = n.get("path").asText,
      partitionValues = strMap(n, "partitionValues"),
      size = n.get("size").asLong,
      modificationTime = optLong(n, "modificationTime").getOrElse(0L),
      dataChange = Option(n.get("dataChange")).forall(_.asBoolean),
      stats = optStr(n, "stats"),
      deletionVector = Option(n.get("deletionVector")).filterNot(_.isNull).map(parseDv),
      tags = strMap(n, "tags"),
      baseRowId = optLong(n, "baseRowId"),
      defaultRowCommitVersion = optLong(n, "defaultRowCommitVersion"),
      clusteringProvider = optStr(n, "clusteringProvider"))

  def parseRemove(n: JsonNode): RemoveFile =
    RemoveFile(
      path = n.get("path").asText,
      deletionTimestamp = optLong(n, "deletionTimestamp"),
      dataChange = Option(n.get("dataChange")).forall(_.asBoolean),
      deletionVector = Option(n.get("deletionVector")).filterNot(_.isNull).map(parseDv),
      partitionValues = Option(n.get("partitionValues")).filterNot(_.isNull)
        .map(_ => strMap(n, "partitionValues")),
      size = optLong(n, "size"))

  def parseCdc(n: JsonNode): AddCDCFile =
    AddCDCFile(n.get("path").asText, strMap(n, "partitionValues"), n.get("size").asLong)

  def parseMetadata(n: JsonNode): Metadata =
    Metadata(
      id = optStr(n, "id").getOrElse(""),
      name = optStr(n, "name"),
      description = optStr(n, "description"),
      schemaString = optStr(n, "schemaString").getOrElse(""),
      partitionColumns = strSeq(n, "partitionColumns"),
      configuration = strMap(n, "configuration"),
      createdTime = optLong(n, "createdTime"))

  def parseProtocol(n: JsonNode): Protocol =
    Protocol(
      minReaderVersion = n.get("minReaderVersion").asInt,
      minWriterVersion = n.get("minWriterVersion").asInt,
      readerFeatures = Option(n.get("readerFeatures")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText).toSeq),
      writerFeatures = Option(n.get("writerFeatures")).filterNot(_.isNull)
        .map(_.elements().asScala.map(_.asText).toSeq))

  def parseTxn(n: JsonNode): SetTransaction =
    SetTransaction(n.get("appId").asText, n.get("version").asLong, optLong(n, "lastUpdated"))

  def parseDomainMetadata(n: JsonNode): DomainMetadata =
    DomainMetadata(n.get("domain").asText,
      optStr(n, "configuration").getOrElse(""),
      Option(n.get("removed")).exists(_.asBoolean))

  def parseCommitInfo(n: JsonNode): CommitInfo =
    CommitInfo(
      timestamp = optLong(n, "timestamp").getOrElse(0L),
      operation = optStr(n, "operation").getOrElse(""),
      operationParameters = strMap(n, "operationParameters"),
      engineInfo = optStr(n, "engineInfo").getOrElse(""),
      inCommitTimestamp = optLong(n, "inCommitTimestamp"),
      operationMetrics = strMap(n, "operationMetrics"))

  // ---------------- write ----------------

  private def putStrMap(o: ObjectNode, f: String, m: Map[String, String]): Unit = {
    val mo = o.putObject(f)
    m.foreach { case (k, v) => if (v == null) mo.putNull(k) else mo.put(k, v) }
  }

  def dvNode(o: ObjectNode, dv: DeletionVectorDescriptor): Unit = {
    o.put("storageType", dv.storageType)
    o.put("pathOrInlineDv", dv.pathOrInlineDv)
    dv.offset.foreach(o.put("offset", _))
    o.put("sizeInBytes", dv.sizeInBytes)
    o.put("cardinality", dv.cardinality)
  }

  def toJson(a: Action): String = {
    val root = mapper.createObjectNode()
    a.commitInfo.foreach { c =>
      val o = root.putObject("commitInfo")
      o.put("timestamp", c.timestamp)
      c.inCommitTimestamp.foreach(o.put("inCommitTimestamp", _))
      o.put("operation", c.operation)
      putStrMap(o, "operationParameters", c.operationParameters)
      if (c.operationMetrics.nonEmpty)
        putStrMap(o, "operationMetrics", c.operationMetrics)
      o.put("engineInfo", c.engineInfo)
    }
    a.protocol.foreach { p =>
      val o = root.putObject("protocol")
      o.put("minReaderVersion", p.minReaderVersion)
      o.put("minWriterVersion", p.minWriterVersion)
      p.readerFeatures.foreach { fs => val ar = o.putArray("readerFeatures"); fs.foreach(ar.add) }
      p.writerFeatures.foreach { fs => val ar = o.putArray("writerFeatures"); fs.foreach(ar.add) }
    }
    a.metaData.foreach { m =>
      val o = root.putObject("metaData")
      o.put("id", m.id)
      m.name.foreach(o.put("name", _))
      m.description.foreach(o.put("description", _))
      val fmt = o.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      o.put("schemaString", m.schemaString)
      val pc = o.putArray("partitionColumns"); m.partitionColumns.foreach(pc.add)
      putStrMap(o, "configuration", m.configuration)
      m.createdTime.foreach(o.put("createdTime", _))
    }
    a.add.foreach { f =>
      val o = root.putObject("add")
      o.put("path", f.path)
      putStrMap(o, "partitionValues", f.partitionValues)
      o.put("size", f.size)
      o.put("modificationTime", f.modificationTime)
      o.put("dataChange", f.dataChange)
      f.stats.foreach(o.put("stats", _))
      f.deletionVector.foreach(dv => dvNode(o.putObject("deletionVector"), dv))
      if (f.tags.nonEmpty) putStrMap(o, "tags", f.tags)
      f.baseRowId.foreach(o.put("baseRowId", _))
      f.defaultRowCommitVersion.foreach(o.put("defaultRowCommitVersion", _))
      f.clusteringProvider.foreach(o.put("clusteringProvider", _))
    }
    a.remove.foreach { r =>
      val o = root.putObject("remove")
      o.put("path", r.path)
      r.deletionTimestamp.foreach(o.put("deletionTimestamp", _))
      o.put("dataChange", r.dataChange)
      r.deletionVector.foreach(dv => dvNode(o.putObject("deletionVector"), dv))
      r.partitionValues.foreach(putStrMap(o, "partitionValues", _))
      r.size.foreach(o.put("size", _))
      if (r.partitionValues.isDefined && r.size.isDefined) o.put("extendedFileMetadata", true)
    }
    a.cdc.foreach { c =>
      val o = root.putObject("cdc")
      o.put("path", c.path)
      putStrMap(o, "partitionValues", c.partitionValues)
      o.put("size", c.size)
      o.put("dataChange", false)
    }
    a.txn.foreach { t =>
      val o = root.putObject("txn")
      o.put("appId", t.appId)
      o.put("version", t.version)
      t.lastUpdated.foreach(o.put("lastUpdated", _))
    }
    a.domainMetadata.foreach { d =>
      val o = root.putObject("domainMetadata")
      o.put("domain", d.domain)
      o.put("configuration", d.configuration)
      o.put("removed", d.removed)
    }
    mapper.writeValueAsString(root)
  }
}
