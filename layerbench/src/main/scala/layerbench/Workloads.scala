package layerbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, functions}
import org.apache.spark.sql.functions._

import graft.{RelationalQueries, SparkEntry}
import graft.delta.{DeltaLog, DeltaTable, DeltaWriter}
import graft.pipeline.{Dedup, Similarity}

/**
 * Tables plus the ops one round runs over them. `build` writes the tables
 * through the library (the timed set-up); `begin` points the group at the
 * built table set the measured rounds use; `steps` are the round's
 * independent steps, each returning its timed seconds, or None when an op
 * threw. Expected answers come from the seeded generator through plain
 * Spark, never through the Delta layer or the columnar tier, and are
 * computed on first use by a deferred check.
 */
abstract class OpGroup(val h: Harness) {
  protected def spark = h.spark
  protected val data = new Data(spark, h.seed)

  /** Tables built once per run, outside the timed set-up. */
  def buildStatic(dir: String): Unit = ()
  def build(dir: String): Unit
  def begin(dir: String): Unit
  def steps(i: Int): Seq[() => Option[Double]]
  def endRound(): Unit = ()
  /** Rounds after which every op kind has run equally often. */
  def rotation: Int = 1
  /** Tables whose stored bytes are compared with their live rows. */
  def tables: Seq[String]

  protected def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Expected answers, computed once on first use with the tier off. */
  protected def memo[K](compute: K => Seq[Seq[Any]]): K => Seq[Seq[Any]] = {
    val m = mutable.Map.empty[K, Seq[Seq[Any]]]
    k => m.getOrElseUpdate(k, h.withTierOff(compute(k)))
  }

  protected def sample(name: String, secs: Double): Unit =
    h.counters.sample((if (h.traced) "traced." else "") + name, secs)
}

/** A closed-loop workload: its groups' steps, in a seeded order per round. */
final class Workload(h: Harness, groups: Seq[OpGroup]) {
  def buildStatic(): Unit = groups.foreach(_.buildStatic(h.dir("static")))
  def build(dir: String): Unit = groups.foreach(_.build(dir))
  def rotation: Int = groups.map(_.rotation).foldLeft(1)((a, b) => a * b / gcd(a, b))
  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)
  def begin(dir: String): Unit = groups.foreach(_.begin(dir))
  def tables: Seq[String] = groups.flatMap(_.tables)

  /** One round; its timed seconds, or None if any op threw. */
  def round(i: Int): Option[Double] = {
    val results = h.rng.shuffle(groups.flatMap(_.steps(i))).map(_())
    groups.foreach(_.endRound())
    if (results.forall(_.isDefined)) Some(results.flatten.sum) else None
  }
}

object Workload {
  val names = Seq("olap_read", "log_churn")

  def apply(name: String, h: Harness): Workload = new Workload(h, name match {
    case "olap_read" => Seq(new OlapRead(h), new DedupCorpus(h))
    case "log_churn" => Seq(new LogChurn(h), new DmlDv(h))
  })
}

/** Static star-schema tables: the table provider's read path. */
final class OlapRead(h: Harness) extends OpGroup(h) {
  private val orders = 30000L
  private val files = 4
  private val rangeWidth = 300L
  private val rangeStart = (h.rng.nextDouble() * (orders - rangeWidth)).toLong

  private val q1 = SparkEntry.oracleSql("q1_agg")
  private def range(table: String) =
    s"""SELECT l_orderkey, count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
       |FROM $table WHERE l_orderkey BETWEEN $rangeStart AND ${rangeStart + rangeWidth}
       |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
  private val partPrune =
    """SELECT l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem_pdv WHERE l_returnflag = 'R'
      |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin
  private val dvPredicate = col("l_orderkey") % 10 === 7

  /** (op, Delta tables it resolves, SQL). `lineitem_pq` is the plain
    * parquet read of the Delta lineitem table's own data files, and
    * `lineitem_pdv` is lineitem partitioned by `l_returnflag` with the rows
    * matching `dvPredicate` deleted through deletion vectors. */
  private val queries: Seq[(String, Seq[String], String)] = Seq(
    ("q1", Seq("lineitem"), q1),
    ("q1_parquet", Nil, q1.replace("FROM lineitem", "FROM lineitem_pq")),
    ("range", Seq("lineitem"), range("lineitem")),
    ("range_parquet", Nil, range("lineitem_pq")),
    ("part_prune", Seq("lineitem_pdv"), partPrune),
    ("dv_q1", Seq("lineitem_pdv"), q1.replace("FROM lineitem", "FROM lineitem_pdv")),
    ("q3", Seq("lineitem"), RelationalQueries.sql("q3_join")),
    ("q18", Seq("lineitem"), RelationalQueries.sql("q18_large_orders")),
    ("events_hourly", Seq("events"), RelationalQueries.sql("q_events_hourly")),
    ("meta_count", Seq("lineitem_pdv"), "SELECT count(*) AS n FROM lineitem_pdv"))

  private var dir = ""
  def tables: Seq[String] = Seq("lineitem")

  private def lineitem = data.lineitem(0, orders, files, orders / 8, orders / 150)
  private def ordersDF = data.orders(orders, orders / 10, 2)
  private def customerDF = data.customer(orders / 10)
  private def eventsDF = data.events(orders * 2, 2)

  private lazy val oracleViews: Unit = Seq(
    "lineitem" -> lineitem, "lineitem_pq" -> lineitem, "lineitem_pdv" -> lineitem.where(!dvPredicate),
    "orders" -> ordersDF, "customer" -> customerDF, "events" -> eventsDF)
    .foreach { case (v, df) => df.createOrReplaceTempView(v) }
  private val expected = memo[String] { name =>
    oracleViews
    rows(spark.sql(queries.find(_._1 == name).get._3))
  }

  /** `lineitem_pdv` and `events` are Delta tables and `orders` and
    * `customer` plain parquet dimensions, all written once. */
  override def buildStatic(d: String): Unit = {
    DeltaWriter.append(spark, lineitem, s"$d/lineitem_pdv", partitionBy = Seq("l_returnflag"))
    DeltaTable.forPath(spark, s"$d/lineitem_pdv").delete(dvPredicate)
    DeltaWriter.append(spark, eventsDF, s"$d/events")
    Seq("orders" -> ordersDF, "customer" -> customerDF).foreach { case (t, df) =>
      df.write.parquet(s"$d/$t")
      spark.read.parquet(s"$d/$t").createOrReplaceTempView(t)
    }
  }

  def build(d: String): Unit = DeltaWriter.append(spark, lineitem, s"$d/lineitem")

  def begin(d: String): Unit = {
    dir = d
    val table = new Path(s"$d/lineitem")
    val fs = table.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(table).map(_.getPath.toString).filter(_.endsWith(".parquet"))
    spark.read.parquet(dataFiles.toIndexedSeq: _*).createOrReplaceTempView("lineitem_pq")
  }

  private val times = mutable.Map.empty[String, Double]

  def steps(i: Int): Seq[() => Option[Double]] = {
    times.clear()
    queries.map { case (name, views, sql) => () =>
      h.op(name) {
        views.foreach { v =>
          val at = if (v == "lineitem") dir else h.dir("static")
          h.deltaDF(s"$at/$v").createOrReplaceTempView(v)
        }
        val df = spark.sql(sql)
        (df, h.collect(df))
      }(r => Harness.diff(r._2, expected(name))).map { case ((df, _), secs) =>
        h.scanExtras(df)
        times(name) = secs
        secs
      }
    }
  }

  override def endRound(): Unit =
    if (Seq("q1", "q1_parquet", "range", "range_parquet").forall(times.contains)) {
      val twin = times("q1_parquet") + times("range_parquet")
      sample("scan.parquet_twin_s", twin)
      sample("scan.delta_overhead_s", times("q1") + times("range") - twin)
    }
}

/** Appends beside a long-lived and a cold reader on a growing log. */
final class LogChurn(h: Harness) extends OpGroup(h) {
  private val baseOrders = 20000L
  private val commits = 3
  private val batchOrders = 100L

  private var dir = ""
  private var version = 0L
  private var pollLog: DeltaLog = _
  def tables: Seq[String] = Seq("lineitem")

  private def orderRange(from: Long, until: Long, files: Int) =
    data.lineitem(from, until, files, 4000, 240)
  private def batchStart(i: Int) = baseOrders + i * batchOrders
  private def readBack(df: DataFrame, i: Int): DataFrame =
    df.where(col("l_orderkey") >= batchStart(i) && col("l_orderkey") < batchStart(i) + batchOrders)
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
  private val expected = memo[Int](i => rows(readBack(
    orderRange(batchStart(i), batchStart(i) + batchOrders, 1), i)))

  /** `commits` JSON commits with checkpointing off, then an interval of
    * 3, so the measured appends pass through two checkpoint cycles. */
  def build(d: String): Unit = {
    (0 until commits).foreach { c =>
      DeltaWriter.append(spark,
        orderRange(c * baseOrders / commits, (c + 1) * baseOrders / commits, 1), s"$d/lineitem",
        configuration = if (c == 0) Map("delta.checkpointInterval" -> "0") else Map.empty)
    }
    DeltaTable.forPath(spark, s"$d/lineitem")
      .setProperties(Map("delta.checkpointInterval" -> "3"))
  }

  def begin(d: String): Unit = {
    dir = s"$d/lineitem"
    DeltaLog.clearCache()
    pollLog = DeltaLog.forPath(spark, dir)
    version = pollLog.update().version
  }

  def steps(i: Int): Seq[() => Option[Double]] = Seq(() => cycle(i))

  /** Append one batch, then read it back through the long-lived and a
    * cold reader. */
  private def cycle(i: Int): Option[Double] = {
    val before = version
    val append = h.op("append") {
      h.trace("commit.append")(
        DeltaTable.forPath(spark, dir).append(orderRange(batchStart(i), batchStart(i) + batchOrders, 1)))
    }(v => if (v == before + 1) None else Some(s"append committed version $v, expected ${before + 1}"))
    append match {
      case None =>
        version = DeltaLog.forPath(spark, dir).update().version
        return None
      case Some((v, secs)) =>
        version = v
        val log = DeltaLog.forPath(spark, dir)
        h.commitExtras(log, before, v)
        val checkpointed = log.lastCheckpointVersion().contains(v)
        if (checkpointed) h.counters.add("snapshot.checkpoints_written", 1)
        h.counters.sample(if (checkpointed) "append_ckpt_s" else "append_plain_s", secs)
    }
    val want = version
    def read(kind: String, cold: Boolean): Option[Double] =
      h.op(kind) {
        val log = if (cold) { DeltaLog.clearCache(); DeltaLog.forPath(spark, dir) } else pollLog
        val snap = h.resolve(log, cold)
        val df = readBack(snap.toDF, i)
        (snap.version, df, h.collect(df))
      } { case (v, _, got) =>
        if (v != want) Some(s"$kind saw version $v, expected $want")
        else Harness.diff(got, expected(i))
      }.map { case ((_, df, _), secs) =>
        h.scanExtras(df)
        secs
      }
    val poll = read("poll_read", cold = false)
    val coldRead = read("cold_read", cold = true)
    for (a <- append; p <- poll; c <- coldRead) yield a._2 + p + c
  }
}

/** DELETE / UPDATE / MERGE through deletion vectors, each followed by a
  * survivor aggregate through the DV-filtered scan. */
final class DmlDv(h: Harness) extends OpGroup(h) {
  private val orders = 10000L
  private val files = 4
  private val slots = 60
  private val width = orders / slots
  private val slotOf = h.rng.shuffle((0 until slots).toList).toIndexedSeq
  private val kindOffset = h.rng.nextInt(3)
  private val kinds = Seq("delete", "update", "merge")
  private def kind(i: Int) = kinds((i + kindOffset) % 3)
  override def rotation: Int = 3
  private def lo(i: Int) = slotOf(i) * width

  private var applied = Seq.empty[Int]
  private var dir = ""
  def tables: Seq[String] = Seq("dml")

  private def lineitem(from: Long, until: Long, n: Int) =
    data.lineitem(from, until, n, orders / 8, orders / 150)
  private def survivors(df: DataFrame): DataFrame = df.agg(
    count(lit(1)), sum(col("l_quantity").cast("long")),
    sum(functions.round(col("l_discount") * 100).cast("long")), sum(col("l_orderkey")))
  private def inRange(i: Int) = col("l_orderkey") >= lo(i) && col("l_orderkey") < lo(i) + width
  private def mergeSource(i: Int): DataFrame = {
    val hit = lineitem(lo(i), lo(i) + width, 1)
      .where(col("l_orderkey") % 4 === 0 && col("l_linenumber") === 1)
    hit.withColumn("l_quantity", lit(51.0))
      .unionByName(hit.withColumn("l_linenumber", lit(8)))
  }

  /** Survivor aggregate after a set of ops: the base aggregate plus each
    * op's signed row delta. */
  private val base = memo[Unit](_ => rows(survivors(lineitem(0, orders, files))))
  private val delta = memo[Int] { i =>
    val r = lineitem(0, orders, files).where(inRange(i))
    val signed = kind(i) match {
      case "delete" => r.where(col("l_quantity") < 25).withColumn("sign", lit(-1L))
      case "update" => r.withColumn("sign", lit(-1L))
        .unionByName(r.withColumn("l_discount", lit(0.0)).withColumn("sign", lit(1L)))
      case "merge" => r.where(col("l_orderkey") % 4 === 0 && col("l_linenumber") === 1)
        .withColumn("sign", lit(-1L))
        .unionByName(mergeSource(i).withColumn("sign", lit(1L)))
    }
    rows(signed.agg(sum(col("sign")), sum(col("sign") * col("l_quantity").cast("long")),
      sum(col("sign") * functions.round(col("l_discount") * 100).cast("long")),
      sum(col("sign") * col("l_orderkey"))).na.fill(0L))
  }
  private def expected(ops: Seq[Int]): Seq[Seq[Any]] =
    Seq(ops.map(i => delta(i).head).foldLeft(base(()).head) { (a, b) =>
      a.zip(b).map { case (x, y) => x.asInstanceOf[Long] + y.asInstanceOf[Long] }
    })

  def build(d: String): Unit = DeltaWriter.append(spark, lineitem(0, orders, files), s"$d/dml")

  def begin(d: String): Unit = {
    dir = s"$d/dml"
    applied = Nil
  }

  def steps(i: Int): Seq[() => Option[Double]] = Seq(() => dmlThenRead(i))

  private def dmlThenRead(i: Int): Option[Double] = {
    require(i < slots, s"dml_dv has $slots key ranges; op $i has none")
    val log = DeltaLog.forPath(spark, dir)
    val before = log.update().version
    val k = kind(i)
    val dml = h.op(s"dml_$k") {
      h.trace(s"commit.$k") {
        val t = DeltaTable.forPath(spark, dir)
        k match {
          case "delete" => t.delete(inRange(i) && col("l_quantity") < 25)
          case "update" => t.update(inRange(i), Map("l_discount" -> lit(0.0)))
          case "merge" => t.merge(mergeSource(i), "l_orderkey", "l_linenumber")
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        }
      }
    }(_ => None)
    if (dml.isEmpty) return None
    applied :+= i
    val after = log.update().version
    h.records.last.addCheck(() =>
      if (after == before + 1) None else Some(s"$k moved the table from $before to $after"))
    h.commitExtras(log, before, after)
    val ops = applied
    val read = h.op("dv_read") {
      val df = survivors(h.deltaDF(dir))
      (df, h.collect(df))
    }(r => Harness.diff(r._2, expected(ops))).map { case ((df, _), secs) =>
      h.scanExtras(df)
      secs
    }
    read.map(_ + dml.get._2)
  }
}

/** The LLM-data pipeline over Delta-backed documents and embeddings. */
final class DedupCorpus(h: Harness) extends OpGroup(h) {
  private val docs = 400L
  private val vectors = 1000L
  private val queryId = h.rng.nextInt(vectors.toInt).toLong
  private val offset = h.rng.nextInt(2)

  private var dir = ""
  def tables: Seq[String] = Nil

  private def documentsDF = data.documents(docs, 8)
  private def embeddingsDF = data.embeddings(vectors, 64)

  /** (op, reads documents (else embeddings), pipeline call), as two pairs
    * of about equal cost. */
  private val ops: Seq[(String, Boolean, DataFrame => DataFrame)] = Seq(
    ("exact", true, Dedup.exact(_)),
    ("minhash", true, Dedup.minhashPairs(_)),
    ("jaccard", true, Dedup.jaccardPairsDfCapped(_)),
    ("ann", false, Similarity.bruteForceTopK(_, queryId, 10)))

  private val expected = memo[String] { name =>
    val (_, onDocs, f) = ops.find(_._1 == name).get
    rows(f(if (onDocs) documentsDF else embeddingsDF)).sortBy(_.mkString("|"))
  }

  override def buildStatic(d: String): Unit = {
    DeltaWriter.append(spark, documentsDF, s"$d/documents")
    DeltaWriter.append(spark, embeddingsDF, s"$d/embeddings")
    dir = d
  }
  def build(d: String): Unit = ()
  def begin(d: String): Unit = ()
  override def rotation: Int = 2

  /** One pair of pipeline ops per round, the pairs in a seeded rotation. */
  def steps(i: Int): Seq[() => Option[Double]] = {
    val pair = (i + offset) % 2
    ops.slice(2 * pair, 2 * pair + 2).map { case (name, onDocs, f) => () =>
      h.op(name) {
        val in = h.deltaDF(s"$dir/${if (onDocs) "documents" else "embeddings"}")
        val df = h.trace(s"pipeline.$name")(f(in))
        (df, h.collect(df))
      }(r => Harness.diff(r._2.sortBy(_.mkString("|")), expected(name))).map { case ((df, got), secs) =>
        h.scanExtras(df)
        if (h.traced && (name == "jaccard" || name == "minhash"))
          h.counters.add("pipeline.pairs_out", got.size.toDouble)
        secs
      }
    }
  }
}
