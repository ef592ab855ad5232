package graft.delta

import org.apache.spark.sql.SparkSession

/**
 * Liquid clustering (writer feature `clustering` + `domainMetadata`):
 * the table's clustering columns live in the `delta.clustering` domain
 * metadata as `{"clusteringColumns":[["a"],["b","c"]]}` (each entry a
 * physical-name field path), and OPTIMIZE re-clusters data files on
 * them. Appends stay unclustered until the next OPTIMIZE — the
 * delta-spark contract — and clustered rewrites stamp
 * `clusteringProvider: "liquid"` on their add actions.
 *
 * Spark-first shape: the re-cluster IS [[Optimize.zorder]] over the
 * clustering columns (one range-repartition + in-partition sort on the
 * interleaved key — the same two-exchange floor delta-spark's Hilbert
 * pass pays), so file-skipping stats tighten on every clustered column.
 */
object Clustering {

  val DomainName = "delta.clustering"

  /** LOGICAL clustering column paths (the domain stores physical names;
    * they map back through the snapshot's schema), Nil when unclustered. */
  def columns(snap: Snapshot): Seq[String] =
    snap.domainMetadata.find(d => d.domain == DomainName && !d.removed)
      .toSeq.flatMap { d =>
        try {
          val n = ActionJson.mapper.readTree(d.configuration).get("clusteringColumns")
          if (n == null || !n.isArray) Nil
          else {
            import scala.jdk.CollectionConverters._
            n.elements().asScala.map { path =>
              val phys = path.elements().asScala.map(_.asText).mkString(".")
              snap.schema.fields.find(f => snap.physicalName(f) == phys)
                .map(_.name).getOrElse(phys)
            }.toSeq
          }
        } catch { case _: Exception => Nil }
      }

  /** ALTER TABLE ... CLUSTER BY (cols): record the clustering columns and
    * advertise the writer features in the same commit. CLUSTER BY NONE =
    * empty cols (domain kept with an empty list, like delta-spark). */
  def clusterBy(spark: SparkSession, log: DeltaLog, cols: Seq[String]): Long = {
    val snap = log.update()
    ProtocolGate.validateWrite(snap, "CLUSTER BY")
    require(cols.size <= 4, s"clustering takes at most 4 columns, got ${cols.size}")
    cols.foreach { c =>
      require(snap.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"CLUSTER BY: no such column $c")
      require(!snap.metadata.partitionColumns.exists(_.equalsIgnoreCase(c)),
        s"CLUSTER BY: $c is a partition column")
    }
    // store PHYSICAL name paths (the protocol's convention for
    // column-mapped tables; logical == physical when unmapped), JSON-built
    // so exotic column names can't break the encoding
    val root = ActionJson.mapper.createObjectNode()
    val arr = root.putArray("clusteringColumns")
    cols.foreach { c =>
      val field = snap.schema.fields.find(_.name.equalsIgnoreCase(c)).get
      arr.addArray().add(snap.physicalName(field))
    }
    val config = ActionJson.mapper.writeValueAsString(root)
    val p = snap.protocol
    val upgraded = Alter.featureUpgrade(p, Seq("clustering", "domainMetadata"))
    ConflictChecker.commit(log, Some(snap), "CLUSTER BY",
      upgraded.map(Action(_)).toSeq :+
        Action(DomainMetadata(DomainName, config, removed = false)),
      params = Map("clusteringColumns" -> cols.mkString(",")),
      maxAttempts = 1)
  }

  /** OPTIMIZE on a clustered table: rewrite the data files clustered on
    * the recorded columns. */
  def optimize(spark: SparkSession, log: DeltaLog): Optimize.Result = {
    val cols = columns(log.update())
    require(cols.nonEmpty,
      s"table ${log.tablePath} has no clustering columns (ALTER ... CLUSTER BY first)")
    Optimize.zorder(spark, log, cols, clusteringProvider = Some("liquid"))
  }
}
