package perfbench

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URL}
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.SparkSession

import graft.{Bench, Sessions, SparkEntry}
import graft.queries.SharedFrames

/** JVM side of the benchmark. `run.py` writes a JSON config, starts this
  * main in a fresh JVM, and reads back a JSON file of raw measurements;
  * all statistics and correctness checks happen in `run.py`.
  *
  * Usage: `perfbench.Harness <config.json>`
  */
object Harness {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    checkEnv(cfg.get("expect"))
    val t0 = System.nanoTime()
    val out = cfg.get("workload").asText() match {
      case "catalog" => Catalog.run(cfg)
      case "ingest" => Ingest.run(cfg)
      case "serve" => Serve.run(cfg)
      case "warehouse" => BuildWarehouse.run(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out("heap_mb") = Heap.retainedMb
    out("jvm_s") = (System.nanoTime() - t0) / 1e9
    Files.write(Paths.get(cfg.get("out").asText()), mapper.writeValueAsBytes(toJava(out)))
  }

  /** The run is only comparable to another if these match the values
    * `run.py` pinned; refuse to measure otherwise.
    */
  private def checkEnv(expect: JsonNode): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "")
    val xmxMb = Runtime.getRuntime.maxMemory() / (1L << 20)
    val localDirs = sys.env.getOrElse("SPARK_LOCAL_DIRS", "")
    val wantMb = expect.get("xmx_mb").asLong()
    val problems = Seq(
      (cpus == expect.get("cpus").asText()) -> s"SPARK_GRAFT_CPUS=$cpus",
      (math.abs(xmxMb - wantMb) <= wantMb / 10) -> s"max heap ${xmxMb}MB",
      (localDirs == expect.get("local_dirs").asText()) -> s"SPARK_LOCAL_DIRS=$localDirs",
      sys.env.keys.forall(k => !k.startsWith("SPARK_GRAFT_") || k == "SPARK_GRAFT_CPUS") ->
        "unpinned SPARK_GRAFT_* variable set")
      .collect { case (false, what) => what }
    if (problems.nonEmpty) {
      System.err.println(s"[perfbench] run environment differs from the pin: ${problems.mkString(", ")}")
      sys.exit(3)
    }
  }

  def session(): SparkSession = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def sha256(p: Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
        .foreach(Files.delete)
      finally s.close()
    }

  def errorOf(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).foldLeft(t)((_, c) => c)
    (root.getClass.getSimpleName + ": " +
      Option(root.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300)
  }

  /** Task totals of a traced section per (span, layer), in the units
    * run.py reports.
    */
  def traceJson(tr: Trace): mutable.Map[String, Any] = {
    tr.drain()
    tr.synchronized {
      mutable.Map("jobs" -> tr.jobs, "stages" -> tr.byKey.toSeq.map { case ((span, layer), a) =>
        Map("span" -> span, "layer" -> layer, "tasks" -> a.tasks,
          "run_s" -> a.runMs / 1e3, "cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
          "shuffle_write_mb" -> a.shuffleWrite / 1048576.0,
          "shuffle_read_mb" -> a.shuffleRead / 1048576.0,
          "spill_mb" -> a.spill / 1048576.0,
          "input_records" -> a.inputRecords, "output_records" -> a.outputRecords)
      }, "catalyst" -> Seq("analysis", "optimization", "planning")
        .map(p => p -> tr.phaseSum(0, Seq(p))).toMap)
    }
  }

  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> toJava(x) }.toMap.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }

  def get(url: String): Array[Byte] = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      require(c.getResponseCode == 200, s"GET $url -> ${c.getResponseCode}")
      val in = c.getInputStream
      try in.readAllBytes() finally in.close()
    } finally c.disconnect()
  }
}

/** Heap the program retains at the end of the measured work: used heap
  * after full collections, so the figure does not depend on when the
  * collector last ran.
  */
object Heap {
  @volatile var retainedMb = 0.0

  def record(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // in response to the first
    System.gc()
    Thread.sleep(300)
    System.gc()
    val mb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    synchronized { retainedMb = math.max(retainedMb, mb) }
  }
}

/** `catalog`: the query catalog, each query's prepare hook first, then
  * `Bench.materialize`, in a fresh session per pass.
  */
object Catalog {
  import Harness._

  def run(cfg: JsonNode): mutable.Map[String, Any] = {
    val c = cfg.get("catalog")
    val corpus = c.get("corpus").asText()
    // each pass: a query order and whether it is traced
    val plan = c.get("passes").elements().asScala.map { p =>
      (p.get("order").elements().asScala.map(_.asText()).toVector, p.get("traced").asBoolean())
    }.toVector
    val setups = (1 to c.get("setups").asInt()).map { _ =>
      val t0 = System.nanoTime()
      val spark = session()
      spark.range(1).count()
      val s = secs(t0)
      spark.stop()
      s
    }
    val passes = plan.map { case (order, traced) => pass(order, corpus, traced) }
    mutable.Map("workload" -> "catalog", "setup_s" -> setups, "passes" -> passes)
  }

  private def pass(order: Seq[String], corpus: String, withTrace: Boolean): mutable.Map[String, Any] = {
    val spark = session()
    val tr = if (withTrace) Some(new Trace(spark)) else None
    val queries = SparkEntry.queries
    val prepares = SparkEntry.prepares
    val prepareBuildKeys = mutable.Set.empty[Int]
    val t0 = System.nanoTime()
    val rows = order.map { name =>
      val logBefore = SharedFrames.buildLog(spark).size
      val p0 = System.nanoTime()
      var error: Option[String] = None
      try prepares.get(name).foreach(p => p(spark, corpus))
      catch { case t: Throwable => error = Some("prepare: " + errorOf(t)) }
      val prepare = secs(p0)
      val logAfterPrepare = SharedFrames.buildLog(spark).size
      (logBefore until logAfterPrepare).foreach(prepareBuildKeys += _)
      val c0 = System.nanoTime()
      var construct = 0.0
      var hash: Option[String] = None
      var phaseFrom = 0
      if (error.isEmpty)
        try {
          val df = queries(name)(spark, corpus)
          construct = secs(c0)
          phaseFrom = tr.map { t => t.drain(); t.phaseCount }.getOrElse(0)
          hash = Some(java.lang.Long.toHexString(Bench.materialize(df)))
        } catch { case t: Throwable => error = Some(errorOf(t)) }
      val total = secs(c0)
      // plan time: Catalyst phases of the actions Bench.materialize ran
      val plan = tr.map { t =>
        t.drain()
        t.phaseSum(phaseFrom, Seq("analysis", "optimization", "planning"))
      }
      spark.catalog.clearCache()
      mutable.Map[String, Any]("name" -> name, "prepare_s" -> prepare,
        "construct_s" -> construct, "query_s" -> total,
        "plan_s" -> plan, "hash" -> hash, "error" -> error)
    }
    val wall = secs(t0)
    val log = SharedFrames.buildLog(spark)
    val memo = mutable.Map[String, Any](
      "builds" -> log.size,
      "build_s" -> log.map(_._2).sum,
      "prepare_build_s" -> log.indices.filter(prepareBuildKeys.contains).map(log(_)._2).sum,
      "bytes" -> log.map(_._4).sum,
      "distinct_keys" -> log.map(_._1).distinct.size)
    val out = mutable.Map[String, Any]("traced" -> withTrace, "wall_s" -> wall,
      "queries" -> rows, "memo" -> memo)
    tr.foreach { t =>
      out("trace") = traceJson(t)
      t.close()
    }
    Heap.record()
    SharedFrames.clear(spark)
    spark.stop()
    out
  }
}
