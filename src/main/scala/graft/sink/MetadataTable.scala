package graft.sink

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

/** K5 — per-dataset ingestion bookkeeping (storage.py:299-334): one row
  * per dataset_id holding last ingestion time, record count, status.
  * The table holds one row per dataset (five in the reference), so an
  * update collects it on the driver, replaces the dataset's row and
  * rewrites it as one file through the upsert sink's write-then-swap —
  * no shuffle, no cache.
  */
object MetadataTable {

  final case class MetadataEntry(
      dataset_id: String,
      table_name: String,
      last_ingestion: Timestamp,
      record_count: Long,
      status: String)

  /** Record (or overwrite) the bookkeeping row for one ingestion run. */
  def update(
      spark: SparkSession,
      dir: String,
      datasetId: String,
      tableName: String,
      recordCount: Long,
      status: String = "success",
      now: Timestamp = new Timestamp(System.currentTimeMillis())): Unit = {
    import spark.implicits._
    val schema = Encoders.product[MetadataEntry].schema
    val kept =
      if (Files.exists(Paths.get(dir)))
        spark.read.schema(schema).parquet(dir).as[MetadataEntry].collect()
          .filterNot(_.dataset_id == datasetId).toSeq
      else Nil
    val entry = MetadataEntry(datasetId, tableName, now, recordCount, status)
    UpsertSink.writeAtomic((kept :+ entry).toDF().coalesce(1), Paths.get(dir))
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
}
