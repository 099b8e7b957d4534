package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced runs: one SparkListener (jobs, tasks,
  * executor time, GC, shuffle, spill, input/output records) and one
  * QueryExecutionListener (Catalyst phase times from
  * `QueryExecution.tracker`). Each stage is attributed to a layer by the
  * first source file of its call site that names a known module; a
  * stage whose call site names none falls back to the span the harness
  * set as a local property around its own call into the program.
  */
final class Trace(spark: SparkSession) {

  /** Call-site class → layer, in priority order: a MetadataTable update
    * runs through UpsertSink and an ingest's upsert runs under IngestJob,
    * so the more specific frame wins.
    */
  private val layerClasses = Seq(
    "graft.serve.ApiServer" -> "serve",
    "graft.sink.MetadataTable" -> "metadata",
    "graft.validate.Validator" -> "validate",
    "graft.jobs.ExportJob" -> "export",
    "graft.sink.JsonFeatureSink" -> "export",
    "graft.sink.UpsertSink" -> "upsert",
    "graft.queries.OracleAux" -> "prepare",
    "graft.queries.SharedFrames" -> "memo",
    "graft.Bench" -> "materialize",
    "graft.jobs.Main" -> "read")

  final class Acc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var inputRecords = 0L; var outputRecords = 0L
  }

  private val stageKey = mutable.Map.empty[Int, (String, String)]
  /** SQL execution id → layer of the call site that started it. */
  private val execLayer = mutable.Map.empty[Long, String]
  /** (span, layer) → task totals. */
  val byKey = mutable.Map.empty[(String, String), Acc]
  var jobs = 0L
  val phases = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def known(layer: String): Boolean = layer != "other" && layer != "unattributed"

  private def layerOf(details: String): String = {
    val frames = Option(details).getOrElse("").split('\n')
    layerClasses.collectFirst {
      case (cls, layer) if frames.exists(f => f.contains(cls + "$") || f.contains(cls + ".")) => layer
    }.getOrElse {
      if (frames.exists(_.contains("graft."))) "other" else "unattributed"
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val own = layerOf(s.details)
        execLayer(s.executionId) =
          if (known(own)) own
          else s.rootExecutionId.flatMap(execLayer.get).getOrElse(own)
      }
      case _ => ()
    }
    // a stage that SQL submits from its own threads (adaptive query
    // stages, broadcasts) has no caller frames: it takes the layer of the
    // SQL execution it belongs to
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("")
      val own = layerOf(e.stageInfo.details)
      val layer = if (known(own)) own else props
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => execLayer.get(id.toLong)).getOrElse(own)
      stageKey(e.stageInfo.stageId) = (span, layer)

    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = byKey.getOrElseUpdate(
          stageKey.getOrElse(e.stageId, ("", "unattributed")), new Acc)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      phases += qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def phaseCount: Int = synchronized { phases.size }
  def phaseSum(from: Int, names: Seq[String]): Double = synchronized {
    phases.drop(from).map(p => names.map(p.getOrElse(_, 0.0)).sum).sum
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Run `f` with `span` as the local property the listener reads. */
  def span[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, name)
    try f finally sc.setLocalProperty(SpanKey, prev)
  }
}
