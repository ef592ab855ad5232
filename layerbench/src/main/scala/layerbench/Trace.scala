package layerbench

import java.io.PrintWriter
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/**
 * In-memory span recorder. A span is (id, parent, op, name, start, end);
 * spans of one benchmark op share the op id. Names are `<layer>.<call>`,
 * so a layer's self time is the summed duration of its spans minus the
 * part their child spans cover. Recording is off unless `enabled`; then
 * `apply` only runs its body.
 */
final class Trace {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

  var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var opId = 0

  def nextOp(): Unit = opId += 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, opId, name, System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        open = open.tail
      }
    }

  /** Seconds of self time per layer (the span name's prefix). */
  def selfSeconds: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def write(path: String): Unit = {
    val out = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

/** Named samples and sums for the per-layer report. */
final class Counters {
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val sums = mutable.LinkedHashMap.empty[String, Double]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v
  def add(name: String, v: Double): Unit = sums(name) = sums.getOrElse(name, 0.0) + v

  def values(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)
  def sum(name: String): Double = sums.getOrElse(name, 0.0)
  def median(name: String): Double = Stats.median(values(name))
}

/** Stage totals from the listener bus, read as deltas around a phase. */
final class StageListener extends SparkListener {
  val stageNs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageNs.addAndGet((c - s) * 1000000L)
    val m = i.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Seq[Long] =
    Seq(stageNs.get, cpuNs.get, shuffleWrite.get, shuffleRead.get, spill.get)
}

object Plans {
  /** Every node of an executed plan: through adaptive wrappers, query
    * stages and subqueries, skipping reuse markers so no node counts twice. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec | _: ReusedSubqueryExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  def metric(s: SparkPlan, name: String): Long = s.metrics.get(name).map(_.value).getOrElse(0L)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest order statistic with at least ten samples above it; the
    * median when there are too few samples for one at or above it. */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 21) median(xs) else xs.sorted.apply(xs.size - 11)

  /** Percentile rank of [[tail]] for `n` samples. */
  def tailPct(n: Int): Double = if (n < 21) 50.0 else 100.0 * (n - 10) / n
}
