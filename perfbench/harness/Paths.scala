package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession

import graft.jobs.{ExportJob, Main}
import graft.serve.ApiServer

/** The ingest → validate → upsert → export path, shared by the `ingest`
  * workload and the build of the `serve` workload's warehouse. Raw inputs
  * come from `gen.py`:
  * `<raw>/initial/<dataset>.{parquet,csv}` and
  * `<raw>/cycle<N>/<dataset>.{parquet,csv}`.
  */
object Warehouse {
  import Harness._

  val initialOrder = Seq("ntas_2020", "food_supply_gap", "census_zctas_2020",
    "census_acs", "zillow_zori")
  val refreshOrder = Seq("zillow_zori", "food_supply_gap")

  def rawFile(dir: String, key: String): String =
    if (key == "zillow_zori") s"$dir/$key.csv" else s"$dir/$key.parquet"

  def zips(cfg: JsonNode): Seq[String] =
    Files.readAllLines(Paths.get(cfg.get("zips_file").asText()), UTF_8).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)

  /** One timed entry-point call: (seconds, records it reported). */
  def ingest(spark: SparkSession, span: String, key: String, raw: String,
             wh: String, zips: Seq[String]): (Double, Long) = {
    val t0 = System.nanoTime()
    val r = Trace.span(spark, span)(Main.ingest(spark, key, rawFile(raw, key), wh,
      dryRun = false, zips = zips))
    (secs(t0), r.recordCount)
  }

  def export(spark: SparkSession, span: String, wh: String, out: String)
      : (Double, Map[String, Map[String, Any]]) = {
    val t0 = System.nanoTime()
    val counts = Trace.span(spark, span)(ExportJob.run(spark, wh, out))
    val s = secs(t0)
    (s, counts.map { case (f, n) =>
      f -> Map[String, Any]("features" -> n, "sha256" -> sha256(Paths.get(out, f)))
    })
  }

  /** Initial load of all five datasets into an empty warehouse. */
  def load(spark: SparkSession, raw: String, wh: String, zips: Seq[String],
           span: String): Seq[Map[String, Any]] =
    initialOrder.map { key =>
      val (s, n) = ingest(spark, s"$span:$key", key, s"$raw/initial", wh, zips)
      Map("op" -> s"ingest:$key", "s" -> s, "records" -> n)
    }
}

/** `ingest`: an initial load of the five datasets plus export into a
  * fresh warehouse, then refresh cycles (upsert a new Zillow month and a
  * revised food vintage, re-export).
  */
object Ingest {
  import Harness._
  import Warehouse._

  def run(cfg: JsonNode): mutable.Map[String, Any] = {
    val c = cfg.get("ingest")
    val raw = c.get("raw").asText()
    val runDir = cfg.get("run_dir").asText()
    val cycles = c.get("cycles").asInt()
    val z = zips(c)
    val traced = cfg.get("trace").asInt() == 1
    val nSetups = c.get("setups").asInt()
    val setups = (1 to nSetups).map { i =>
      val t0 = System.nanoTime()
      val spark = session()
      spark.range(1).count()
      val s = secs(t0)
      if (i < nSetups) spark.stop()
      s
    }
    val spark = session()
    val wh = s"$runDir/warehouse"
    val t0 = System.nanoTime()
    val loadTrace = if (traced) Some(new Trace(spark)) else None
    val loadOps = load(spark, raw, wh, z, "load")
    val (es, files0) = export(spark, "load:export", wh, s"$runDir/export/c0")
    val loadS = secs(t0)
    val out = mutable.Map[String, Any]("workload" -> "ingest", "setup_s" -> setups,
      "load_s" -> loadS, "load_ops" -> (loadOps :+ Map("op" -> "export", "s" -> es)))
    loadTrace.foreach { t => out("load_trace") = traceJson(t); t.close() }
    // In a traced run, cycles go untraced, traced, traced, untraced, so
    // the overhead of tracing is measured on the same kind of work and the
    // cycles' warm-up trend falls on both sides alike.
    val rows = mutable.ArrayBuffer[scala.collection.Map[String, Any]](
      Map("cycle" -> 0, "files" -> files0))
    for (cyc <- 1 to cycles) {
      val tr = if (traced && cyc % 4 >= 2) Some(new Trace(spark)) else None
      val c0 = System.nanoTime()
      val ops = refreshOrder.map { key =>
        val (s, n) = ingest(spark, s"refresh:$key", key, s"$raw/cycle$cyc", wh, z)
        Map("op" -> s"ingest:$key", "s" -> s, "records" -> n)
      }
      val (s, files) = export(spark, "refresh:export", wh, s"$runDir/export/c$cyc")
      val row = mutable.Map[String, Any]("cycle" -> cyc, "s" -> secs(c0), "traced" -> tr.isDefined,
        "ops" -> (ops :+ Map("op" -> "export", "s" -> s)), "files" -> files)
      tr.foreach { t => row("trace") = traceJson(t); t.close() }
      rows += row
    }
    Heap.record()
    spark.stop()
    out("cycles") = rows
    out
  }
}

/** Builds the `serve` workload's warehouse: initial load of the five
  * datasets and its export.
  */
object BuildWarehouse {
  import Harness._
  import Warehouse._

  def run(cfg: JsonNode): mutable.Map[String, Any] = {
    val c = cfg.get("warehouse")
    val spark = session()
    val t0 = System.nanoTime()
    load(spark, c.get("raw").asText(), c.get("dir").asText(), zips(c), "load")
    val (_, files) = export(spark, "load:export", c.get("dir").asText(), c.get("export_dir").asText())
    val s = secs(t0)
    spark.stop()
    mutable.Map("workload" -> "warehouse", "build_s" -> s, "files" -> files)
  }
}

/** `serve`: each set-up starts a fresh `ApiServer` over the warehouse on
  * an ephemeral port and renders the three routes once (the cold first
  * response, which runs Spark). The last server stays up for the load
  * generator, a separate process started by run.py, until it writes the
  * done file.
  */
object Serve {
  import Harness._

  val routes = Seq("food-gaps", "poverty-by-zip", "rent-by-zip")

  def run(cfg: JsonNode): mutable.Map[String, Any] = {
    val c = cfg.get("serve")
    val wh = c.get("warehouse").asText()
    val traced = cfg.get("trace").asInt() == 1
    val origin = c.get("origin").asText()
    val n = c.get("setups").asInt()
    val spark = session()
    val out = mutable.Map[String, Any]("workload" -> "serve")
    // In a traced run, set-ups 3 and 5 are traced and 2 and 4 are not,
    // which measures the tracing overhead on the same work; the last
    // trace stays on through the load to count steady-state Spark jobs.
    var server: ApiServer = null
    var tr: Option[Trace] = None
    val setupTraces = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val setups = (1 to n).map { i =>
      val t = if (traced && i >= 3 && i % 2 == 1) Some(new Trace(spark)) else None
      val t0 = System.nanoTime()
      server = new ApiServer(spark, wh, Seq(origin))
      val port = server.start(0)
      val first = routes.map { r =>
        val f0 = System.nanoTime()
        Trace.span(spark, s"first:$r")(get(s"http://127.0.0.1:$port/api/$r"))
        r -> secs(f0) * 1e3
      }.toMap
      val setupS = secs(t0)
      t.foreach(x => setupTraces += traceJson(x))
      if (i < n) { server.stop(); t.foreach(_.close()) } else tr = t
      Map("setup_s" -> setupS, "first_ms" -> first, "port" -> port, "traced" -> t.isDefined)
    }
    val jobsBefore = tr.map(_.jobs).getOrElse(0L)
    if (traced) out("setup_traces") = setupTraces
    val ready = Paths.get(c.get("ready").asText())
    val tmp = Paths.get(ready.toString + ".tmp")
    Files.write(tmp, mapper.writeValueAsBytes(toJava(Map("port" -> setups.last("port")))))
    Files.move(tmp, ready, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val done = Paths.get(c.get("done").asText())
    val deadline = System.nanoTime() + (c.get("timeout_s").asDouble() * 1e9).toLong
    while (!Files.exists(done) && System.nanoTime() < deadline) Thread.sleep(20)
    out("steady_spark_jobs") = tr.map { t => t.drain(); t.jobs - jobsBefore }
    tr.foreach(_.close())
    Heap.record()
    server.stop()
    spark.stop()
    out ++= Seq("setups" -> setups, "setup_s" -> setups.map(_("setup_s")),
      "completed" -> Files.exists(done))
  }
}
