package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sink.{MetadataTable, UpsertSink}

/** K2 strategy (a) latest-wins parquet upsert: fresh write, update-on-
  * conflict, insert-on-new-key, idempotence, schema evolution, atomic
  * visibility, a write that fails before the swap — plus golden ON
  * CONFLICT SQL generation (strategy b) and the K5 metadata table.
  */
class UpsertSinkSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-upsert")
    Files.delete(d) // parquet writer wants to create it
    d.toString
  }

  private def readMap(dir: String): Map[String, Double] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("zip_code") -> r.getAs[Double]("rent_index")).toMap

  test("first upsert creates the table; second updates conflicts and inserts new keys") {
    val dir = freshDir()
    val v1 = Seq(("10001", 3000.0), ("10002", 2500.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, v1, Seq("zip_code"))
    assert(readMap(dir) == Map("10001" -> 3000.0, "10002" -> 2500.0))

    val v2 = Seq(("10002", 2600.0), ("10003", 4100.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, v2, Seq("zip_code"))
    assert(readMap(dir) == Map(
      "10001" -> 3000.0, // untouched
      "10002" -> 2600.0, // incoming wins (latest-wins)
      "10003" -> 4100.0)) // inserted
  }

  test("upsert is idempotent (same batch twice -> identical table)") {
    val dir = freshDir()
    val batch = Seq(("a", 1.0), ("b", 2.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, batch, Seq("zip_code"))
    val first = readMap(dir)
    UpsertSink.upsertParquet(spark, dir, batch, Seq("zip_code"))
    assert(readMap(dir) == first)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("within-batch duplicate keys collapse deterministically") {
    val dir = freshDir()
    val dup = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("zip_code", "rent_index")
    UpsertSink.upsertParquet(spark, dir, dup, Seq("zip_code"))
    val m = readMap(dir)
    assert(m.keySet == Set("a", "b"))
    assert(m("a") == 5.0, "tie-break is max over non-key columns")
  }

  test("schema evolution: new incoming column backfills NULL for existing rows") {
    val dir = freshDir()
    UpsertSink.upsertParquet(spark, dir,
      Seq(("a", 1.0)).toDF("zip_code", "rent_index"), Seq("zip_code"))
    UpsertSink.upsertParquet(spark, dir,
      Seq(("b", 2.0, 2024)).toDF("zip_code", "rent_index", "year"), Seq("zip_code"))
    val out = spark.read.parquet(dir)
    assert(out.columns.toSet == Set("zip_code", "rent_index", "year"))
    val a = out.filter(col("zip_code") === "a").head
    assert(a.isNullAt(a.fieldIndex("year")))
  }

  test("upsertSql: DO UPDATE SET over non-key columns (storage.py:265-279)") {
    val sql = UpsertSink.upsertSql("zillow_zori",
      Seq("zip_code", "rent_index", "date"), Seq("zip_code"))
    assert(sql ==
      "INSERT INTO zillow_zori (zip_code, rent_index, date) VALUES (?, ?, ?) " +
        "ON CONFLICT (zip_code) DO UPDATE SET rent_index = EXCLUDED.rent_index, " +
        "date = EXCLUDED.date")
  }

  test("upsertSql: keys-only degenerates to DO NOTHING (storage.py:282-284)") {
    val sql = UpsertSink.upsertSql("t", Seq("k1", "k2"), Seq("k1", "k2"))
    assert(sql == "INSERT INTO t (k1, k2) VALUES (?, ?) ON CONFLICT (k1, k2) DO NOTHING")
  }

  test("metadata table keeps one latest row per dataset (K5)") {
    val dir = freshDir()
    MetadataTable.update(spark, dir, "4kc9-zrs2", "food_supply_gaps", 100,
      now = Timestamp.valueOf("2026-01-01 00:00:00"))
    MetadataTable.update(spark, dir, "zillow_zori", "zillow_zori", 155,
      now = Timestamp.valueOf("2026-01-02 00:00:00"))
    MetadataTable.update(spark, dir, "4kc9-zrs2", "food_supply_gaps", 120,
      now = Timestamp.valueOf("2026-02-01 00:00:00"))
    val rows = MetadataTable.read(spark, dir).collect()
      .map(r => r.getAs[String]("dataset_id") ->
        (r.getAs[Long]("record_count"), r.getAs[Timestamp]("last_ingestion")))
      .toMap
    assert(rows.size == 2)
    assert(rows("4kc9-zrs2")._1 == 120)
    assert(rows("4kc9-zrs2")._2 == Timestamp.valueOf("2026-02-01 00:00:00"))
    assert(rows("zillow_zori")._1 == 155)
  }

  private def siblings(dir: String): List[String] = {
    val target = Paths.get(dir)
    val name = target.getFileName.toString
    val stream = Files.list(target.getParent)
    try stream.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(s"$name.tmp-") || n.startsWith(s"$name.old-")).toList
    finally stream.close()
  }

  private def assertRaised(e: Throwable): Unit =
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("boom"))), e)

  // a non-local source, so the error is raised by a task rather than
  // folded away at planning time
  private def failing = spark.range(3).select(
    concat(lit("z"), col("id").cast("string")).as("zip_code"),
    raise_error(lit("boom")).cast("double").as("rent_index"))

  test("an upsert whose incoming frame fails keeps the old table and leaves no sibling dirs") {
    val dir = freshDir()
    UpsertSink.upsertParquet(spark, dir,
      Seq(("a", 1.0), ("b", 2.0)).toDF("zip_code", "rent_index"), Seq("zip_code"))
    assertRaised(intercept[Exception](
      UpsertSink.upsertParquet(spark, dir, failing, Seq("zip_code"))))
    assert(readMap(dir) == Map("a" -> 1.0, "b" -> 2.0))
    assert(siblings(dir).isEmpty, siblings(dir))
  }

  test("a write that fails inside the temp dir deletes it and rethrows") {
    // no exchange before the write, so the failing task is a write task
    // and the temp dir already exists when it fails
    val dir = freshDir()
    UpsertSink.upsertParquet(spark, dir,
      Seq(("a", 1.0)).toDF("zip_code", "rent_index"), Seq("zip_code"))
    assertRaised(intercept[Exception](UpsertSink.writeAtomic(failing, Paths.get(dir))))
    assert(readMap(dir) == Map("a" -> 1.0))
    assert(siblings(dir).isEmpty, siblings(dir))
  }
}
