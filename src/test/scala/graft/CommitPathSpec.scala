package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.delta._

/** Every write lands through the one commit sequence
  * (`ConflictChecker.commit`): each operation's commit carries its own
  * commitInfo, a strictly increasing in-commit timestamp, row ids stamped
  * for the version it lands at, and the auto-checkpoint. */
class CommitPathSpec extends AnyFunSuite {
  import TestSpark._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("commitpath").toString + "/t"

  private def nation: DataFrame = Fixtures.readParquet(spark, sfDir, "nation")
    .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))

  private def commitInfo(log: DeltaLog, v: Long): CommitInfo =
    log.readCommit(v).flatMap(_.commitInfo).head

  /** One entry per operation that writes a commit: the commitInfo
    * operation it must stamp, and the write itself. */
  private def ops(dir: String): Seq[(String, () => Any)] = {
    def t = DeltaTable.forPath(spark, dir)
    def log = DeltaLog.forPath(spark, dir)
    val region1 = col("n_regionkey") === 1
    Seq(
      "WRITE" -> (() => DeltaWriter.append(spark, nation.limit(5), dir)),
      "OVERWRITE" -> (() => DeltaWriter.overwrite(spark, nation, dir)),
      "REPLACE WHERE" -> (() => DeltaWriter.overwrite(spark,
        nation.where(region1), dir, replaceWhere = Some(region1))),
      "DELETE" -> (() => t.delete(col("n_nationkey") === 3)),
      "UPDATE" -> (() => t.update(col("n_nationkey") === 5,
        Map("n_name" -> lit("renamed")))),
      "MERGE" -> (() => t.upsert(nation.where(col("n_nationkey") < 2),
        Seq("n_nationkey"))),
      "MERGE" -> (() => t.merge(nation.where(col("n_nationkey") === 7), "n_nationkey")
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()),
      "MERGE" -> (() => DeltaMerge.mergeDelete(spark, log,
        nation.where(col("n_nationkey") === 8), Seq("n_nationkey"))),
      "OPTIMIZE" -> (() => Optimize.compact(spark, log)),
      "OPTIMIZE" -> (() => Optimize.zorder(spark, log, Seq("n_regionkey"))),
      "RESTORE" -> (() => Optimize.restore(spark, log, 2L)),
      "SET TBLPROPERTIES" -> (() => Alter.setProperties(spark, log,
        Map("graft.test.owner" -> "commit-path"))),
      "CLUSTER BY" -> (() => Clustering.clusterBy(spark, log, Seq("n_regionkey"))),
      "SET TRANSACTION" -> (() => t.setTransactionVersion("app", 1L)),
      "SET DOMAIN METADATA" -> (() => t.setDomainMetadata("app.test", """{"k":1}""")))
  }

  /** Runs every op on a fresh table created with `conf`; checks that each
    * lands exactly one commit with the right operation and that the
    * in-commit timestamps strictly increase. Returns the table. */
  private def runAll(conf: Map[String, String]): String = {
    val dir = freshDir()
    DeltaWriter.append(spark, nation, dir, configuration = conf)
    val log = DeltaLog.forPath(spark, dir)
    ops(dir).foreach { case (op, run) =>
      val before = log.update().version
      run()
      val v = log.update().version
      assert(v == before + 1, s"$op: expected one commit after $before, now at $v")
      assert(commitInfo(log, v).operation == op, s"version $v")
    }
    val icts = log.listCommitVersions().map(v => commitInfo(log, v).inCommitTimestamp)
    assert(icts.forall(_.isDefined), icts.toString)
    val vals = icts.flatten
    assert(vals.zip(vals.tail).forall { case (a, b) => a < b },
      s"in-commit timestamps not strictly increasing: $vals")
    dir
  }

  private val ict = Map("delta.enableInCommitTimestamps" -> "true")

  test("every operation commits once with its commitInfo and a rising in-commit timestamp") {
    val dir = runAll(ict)
    // CLONE writes version 0 of its target through the same path
    val target = freshDir()
    Optimize.shallowClone(spark, DeltaLog.forPath(spark, dir), target)
    val tgtLog = DeltaLog.forPath(spark, target)
    assert(tgtLog.update().version == 0L)
    val info = commitInfo(tgtLog, 0L)
    assert(info.operation == "CLONE" && info.inCommitTimestamp.isDefined, info.toString)
  }

  test("on a row-tracked table every fresh add carries its own commit version") {
    val dir = runAll(ict + ("delta.enableRowTracking" -> "true"))
    val log = DeltaLog.forPath(spark, dir)
    // a fresh add names a path no earlier commit added; DV rewrites and
    // RESTORE re-add known paths, which keep their original ids
    val seen = scala.collection.mutable.Set.empty[String]
    val freshPerVersion = log.listCommitVersions().map { v =>
      val fresh = log.readCommit(v).flatMap(_.add).filterNot(a => seen(a.path))
      fresh.foreach { a =>
        assert(a.baseRowId.isDefined, s"v$v ${a.path}")
        assert(a.defaultRowCommitVersion.contains(v),
          s"v$v ${a.path} stamped ${a.defaultRowCommitVersion}")
      }
      seen ++= log.readCommit(v).flatMap(_.add).map(_.path)
      commitInfo(log, v).operation -> fresh.size
    }
    // every data-writing operation contributed fresh files
    Seq("WRITE", "OVERWRITE", "REPLACE WHERE", "UPDATE", "MERGE", "OPTIMIZE")
      .foreach(op => assert(freshPerVersion.exists { case (o, n) => o == op && n > 0 }, op))
  }

  test("metadata-only commits auto-checkpoint like every other commit") {
    val dir = freshDir()
    DeltaWriter.append(spark, nation, dir,
      configuration = Map("delta.checkpointInterval" -> "2"))        // v0
    DeltaWriter.append(spark, nation.limit(1), dir)                   // v1
    val log = DeltaLog.forPath(spark, dir)
    assert(Alter.setProperties(spark, log, Map("graft.test.k" -> "v")) == 2L)
    assert(log.fs.exists(log.checkpointFile(2L)), "ALTER at v2 must checkpoint")
    DeltaWriter.append(spark, nation.limit(1), dir)                   // v3
    assert(DeltaTable.forPath(spark, dir).setDomainMetadata("app.k", "{}") == 4L)
    assert(log.fs.exists(log.checkpointFile(4L)),
      "SET DOMAIN METADATA at v4 must checkpoint")
    DeltaLog.clearCache()
    val snap = DeltaLog.forPath(spark, dir).update()
    assert(snap.version == 4L && snap.domainMetadata.exists(_.domain == "app.k"))
  }

  test("setDomainMetadata declares the domainMetadata writer feature") {
    val dir = freshDir()
    DeltaWriter.append(spark, nation, dir)
    val before = DeltaLog.forPath(spark, dir).update().protocol
    assert(!before.writerFeatures.exists(_.contains("domainMetadata")), before.toString)
    DeltaTable.forPath(spark, dir).setDomainMetadata("app.k", """{"v":1}""")
    val after = DeltaLog.forPath(spark, dir).update()
    assert(after.protocol.writerFeatures.exists(_.contains("domainMetadata")),
      after.protocol.toString)
    assert(after.domainMetadata.exists(d => d.domain == "app.k" && d.configuration == """{"v":1}"""))
    // a second domain write needs no further upgrade
    DeltaTable.forPath(spark, dir).setDomainMetadata("app.k", """{"v":2}""")
    val log = DeltaLog.forPath(spark, dir)
    assert(log.readCommit(log.update().version).forall(_.protocol.isEmpty))
  }

  test("setDomainMetadata refuses a table with an unsupported writer feature") {
    val dir = freshDir()
    DeltaWriter.append(spark, nation, dir)
    val log = DeltaLog.forPath(spark, dir)
    val v = log.update().version + 1
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_delta_log", f"$v%020d.json"),
      ("""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["icebergCompatV9"]}}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    DeltaLog.clearCache()
    val e = intercept[UnsupportedTableFeatureException] {
      DeltaTable.forPath(spark, dir).setDomainMetadata("app.k", "{}")
    }
    assert(e.getMessage.contains("icebergCompatV9"), e.getMessage)
    assert(DeltaLog.forPath(spark, dir).update().version == v)
  }

  test("a table re-created at a deleted table's path reads as the new table") {
    val dir = freshDir()
    DeltaWriter.append(spark, nation, dir)                          // old v0
    assert(DeltaTable.forPath(spark, dir).toDF.count() == 25)       // caches it
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // the new table's create lands at the cached old table's version
    DeltaWriter.append(spark, nation.limit(3).select(col("n_name")), dir)
    val t = DeltaTable.forPath(spark, dir)
    assert(t.version == 0L)
    assert(t.toDF.columns.toSeq == Seq("n_name"))
    assert(t.toDF.count() == 3)
  }
}
