package graft

import java.io.ByteArrayInputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.functions._

import graft.serve.ApiServer

/** Drives the HTTP serving shim end-to-end over a real loopback
  * socket: all three reference endpoints (routes.py:9-141) at the
  * reference cardinalities 197/177/155, gzip negotiation at the
  * 1000-byte GZipMiddleware minimum (main.py:21) with `Vary` on
  * compressed responses and stable memoized gzip bytes, the
  * poverty-endpoint empty-collection fallback (routes.py:95-97), CORS
  * allow-listing (main.py:11-18), and the 500 `{"detail": …}` error
  * shape (routes.py:53-55).
  */
class ApiServerSpec extends SparkSpecBase {

  private lazy val warehouse = NycWarehouseFixture.build(spark)
  private lazy val server = {
    val s = new ApiServer(spark, warehouse)
    s.start()
    s
  }
  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String, headers: (String, String)*): HttpResponse[Array[Byte]] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.port}$path"))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def gunzip(bytes: Array[Byte]): String = {
    val in = new GZIPInputStream(new ByteArrayInputStream(bytes))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def featureCount(json: String): Long = {
    import spark.implicits._
    spark.read.json(Seq(json).toDS)
      .selectExpr("size(features)").head.getInt(0).toLong
  }

  test("three endpoints serve FeatureCollections at reference cardinalities over a local socket") {
    val food = get("/api/food-gaps")
    assert(food.statusCode() == 200)
    assert(food.headers().firstValue("Content-Type").get == "application/json")
    assert(featureCount(new String(food.body(), UTF_8)) == 197L)

    val poverty = get("/api/poverty-by-zip")
    assert(poverty.statusCode() == 200)
    assert(featureCount(new String(poverty.body(), UTF_8)) == 177L)

    val rent = get("/api/rent-by-zip")
    assert(rent.statusCode() == 200)
    val rentJson = new String(rent.body(), UTF_8)
    assert(featureCount(rentJson) == 155L)
    // geometry arrives as real inline GeoJSON, not a re-encoded string
    assert(rentJson.contains(""""geometry":{"type":"MultiPolygon""""))
  }

  test("gzip: large bodies compress for gzip-capable clients, small bodies never do") {
    def vary(r: HttpResponse[Array[Byte]]) = r.headers().firstValue("Vary").toScala
    Seq("food-gaps" -> 197L, "poverty-by-zip" -> 177L, "rent-by-zip" -> 155L).foreach {
      case (route, n) =>
        val p = s"/api/$route"
        val plain = get(p)
        val gz1 = get(p, "Accept-Encoding" -> "gzip")
        val gz2 = get(p, "Accept-Encoding" -> "gzip")
        assert(gz1.headers().firstValue("Content-Encoding").toScala.contains("gzip"), p)
        val body = gunzip(gz1.body())
        assert(featureCount(body) == n, p)
        // identical payload to the identity-encoded response
        assert(body == new String(plain.body(), UTF_8), p)
        assert(java.util.Arrays.equals(gz1.body(), gz2.body()),
          s"$p: repeated gzip responses must be byte-identical")
        // Vary marks compressed responses only (GZipMiddleware)
        assert(vary(gz1).contains("Accept-Encoding"), p)
        assert(vary(gz2).contains("Accept-Encoding"), p)
        assert(vary(plain).isEmpty, p)
    }
    // the root health message is < 1000 B: served identity even to a
    // gzip-capable client (GZipMiddleware minimum_size semantics)
    val root = get("/", "Accept-Encoding" -> "gzip")
    assert(root.statusCode() == 200)
    assert(root.headers().firstValue("Content-Encoding").toScala.isEmpty)
    assert(vary(root).isEmpty)
    assert(new String(root.body(), UTF_8).contains("message"))
  }

  test("CORS: allow-listed Origin echoes back, unknown Origin gets no header") {
    val ok = get("/api/rent-by-zip", "Origin" -> "http://localhost:5173")
    assert(ok.headers().firstValue("Access-Control-Allow-Origin").toScala
      .contains("http://localhost:5173"))
    val no = get("/api/rent-by-zip", "Origin" -> "http://evil.example")
    assert(no.headers().firstValue("Access-Control-Allow-Origin").toScala.isEmpty)
  }

  test("CORS allow-list is config-driven: ALLOWED_ORIGINS comma-split with main.py:8 semantics") {
    // default when unset
    assert(ApiServer.originsFromEnv(Map.empty) == Seq("http://localhost:5173"))
    // comma split, no trimming (split(',') in python does not trim)
    assert(ApiServer.originsFromEnv(
      Map("ALLOWED_ORIGINS" -> "https://a.example, https://b.example")) ==
      Seq("https://a.example", " https://b.example"))
    // empty value -> one empty string, which can never match a real Origin
    assert(ApiServer.originsFromEnv(Map("ALLOWED_ORIGINS" -> "")) == Seq(""))
    // a server constructed with a configured list enforces it end-to-end
    val cfg = new ApiServer(spark, warehouse, Seq("https://cfg.example"))
    cfg.start()
    try {
      def getOn(h: (String, String)) = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${cfg.port}/api/rent-by-zip"))
          .header(h._1, h._2).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(getOn("Origin" -> "https://cfg.example").headers()
        .firstValue("Access-Control-Allow-Origin").toScala
        .contains("https://cfg.example"))
      assert(getOn("Origin" -> "http://localhost:5173").headers()
        .firstValue("Access-Control-Allow-Origin").toScala.isEmpty,
        "the compiled-in default must not leak past a configured list")
    } finally cfg.stop()
  }

  test("empty warehouse serves features:null on every endpoint (routes.py parity — the [] fallback is dead code)") {
    // derived warehouse: fact tables emptied, dims intact
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-wh").toString
    Seq("ntas_2020", "census_zctas_2020").foreach { t =>
      spark.read.parquet(s"$warehouse/$t").write.parquet(s"$dir/$t")
    }
    Seq("food_supply_gaps", "census_acs_income_poverty").foreach { t =>
      spark.read.parquet(s"$warehouse/$t").limit(0).write.parquet(s"$dir/$t")
    }
    val empty = new ApiServer(spark, dir)
    empty.start()
    try {
      def getOn(p: String, headers: (String, String)*) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${empty.port}$p"))
        headers.foreach { case (k, v) => b.header(k, v) }
        client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
      }
      // json_agg's NULL nests INSIDE json_build_object, so zero rows
      // produce features:null — never literal null, never [] (the
      // poverty `if not result` fallback never fires: the dict is
      // always truthy)
      Seq("/api/poverty-by-zip", "/api/food-gaps").foreach { p =>
        val r = getOn(p)
        assert(r.statusCode() == 200, p)
        assert(r.body() == """{"type":"FeatureCollection","features":null}""",
          s"$p must serve json_build_object's features:null shape")
        // the body is under the gzip minimum: identity, no Vary
        val gz = getOn(p, "Accept-Encoding" -> "gzip")
        assert(gz.body() == r.body(), p)
        assert(gz.headers().firstValue("Content-Encoding").toScala.isEmpty, p)
        assert(gz.headers().firstValue("Vary").toScala.isEmpty, p)
      }
    } finally empty.stop()
  }

  test("query failure surfaces as a 500 with the HTTPException detail shape") {
    // missing table -> the endpoint's query throws at render time
    val dir = java.nio.file.Files.createTempDirectory("graft-broken-wh").toString
    val broken = new ApiServer(spark, dir)
    broken.start()
    try {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${broken.port}/api/rent-by-zip"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 500)
      assert(r.body().startsWith("""{"detail":""""))
      // a failed render is never memoized: once the tables land, the
      // same server renders the route
      Seq("census_zctas_2020", "zillow_zori").foreach { t =>
        spark.read.parquet(s"$warehouse/$t").write.parquet(s"$dir/$t")
      }
      val fixed = client.send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${broken.port}/api/rent-by-zip"))
          .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(fixed.statusCode() == 200)
      assert(featureCount(fixed.body()) == 155L)
    } finally broken.stop()
  }

  test("serving and batch export agree feature-for-feature") {
    import spark.implicits._
    val served = new String(get("/api/poverty-by-zip").body(), UTF_8)
    val exported = graft.sink.JsonFeatureSink.featureCollection(
      graft.jobs.Main.namedQuery(spark, warehouse, "poverty-by-zip"))
    assert(served == exported,
      "HTTP body must be byte-identical to the ExportJob FeatureCollection")
  }

  private implicit class OptToScala[T](o: java.util.Optional[T]) {
    def toScala: Option[T] = if (o.isPresent) Some(o.get) else None
  }
}
