package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The SQL executions a block of code starts, each as its call site
  * (the stack Spark records at the action, so a spec can tell which
  * module issued it). Only executions started inside the block count:
  * the bus is drained before the listener is added and again before it
  * is read.
  */
object SqlExecutions {
  def callSites[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => seen.add(s.details)
        case _ => ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val result = f
      ListenerBusDrain(sc)
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Call sites that pass through `cls` (an object's frames carry `cls$`). */
  def from(sites: Seq[String], cls: String): Seq[String] =
    sites.filter(_.split('\n').exists(f => f.contains(cls + "$") || f.contains(cls + ".")))
}
