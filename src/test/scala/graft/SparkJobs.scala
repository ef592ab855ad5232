package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs an operation starts. */
object SparkJobs {
  /** The call site of every job started while `body` runs, in start
    * order: its result stage's name, e.g. "head at Optimize.scala:431". */
  def during(body: => Any): Seq[String] = {
    val sc = TestSpark.spark.sparkContext
    val started = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(e.stageInfos.maxBy(_.stageId).name)
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    try { body; BusDrain(sc); started.asScala.toSeq }
    finally sc.removeSparkListener(listener)
  }
}
