package graft.pipeline

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The stage-4 seam (round-15 verdict #5 / "what's missing #1"): the
  * reference's importer is a WAREHOUSE LOAD — clean CSV + explicit JSON
  * schema in, truncate-loaded destination table out, with the loaded row
  * count reported (app/bq-importer/main.py:19-43). This repo's sandbox
  * has no BigQuery to write to, so the pipeline used to hard-code its
  * parquet stand-in inside `Pipeline.loadStage`; the interface makes the
  * destination pluggable: a real BigQuery-connector sink (a
  * `df.write.format("bigquery")` wrapper, or a load-job API call against
  * the staged CSV) drops in by implementing these two methods, without
  * touching any stage logic.
  *
  * Contract, matching the reference load job:
  *   - [[load]] consumes `layout.cleanCsv(table)` under the EXPLICIT
  *     schema at `layout.schemaJson(table)` (never inference — the
  *     schema-before-data ordering hazard of SURVEY §3 stays the
  *     caller's responsibility), truncate-replaces the destination, and
  *     returns the rows loaded BY THIS JOB (`output_rows` parity,
  *     main.py:41-43);
  *   - [[read]] returns the destination relation for downstream stages
  *     and verification, without running a Spark job.
  *
  * The parquet and catalog sinks load in ONE Spark job: the write
  * itself. The row count rides that job as an observed metric
  * ([[WarehouseSink.countedWrite]]) instead of a second scan of the
  * destination.
  */
trait WarehouseSink {
  def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long
  def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame
}

object WarehouseSink {

  /** Upper bound on the wait for a finished write's observed row count.
    * The metric reaches the driver through the listener bus after the
    * write returns, normally within milliseconds; the bound only turns a
    * lost bus event into an error instead of a hung load.
    */
  private val MetricWait = 10.minutes

  /** Run `save` on `df`'s writer and return the rows it wrote, counted
    * INSIDE the write job (`Dataset.observe` + [[Observation]]), so the
    * load is one Spark job instead of a write plus a re-read and count.
    *
    * The count is exactly-once. The write of a scan has no exchange, so
    * its only stage is the result stage, and the observed count is an
    * accumulator updated by that stage's tasks. The scheduler merges a
    * result task's accumulator updates only for the first successful
    * attempt of each partition, and drops the updates of failed
    * attempts; a task retry or a speculative duplicate therefore cannot
    * inflate the count. This argument is made for this write only: the
    * iterative kernels' observed counts in `core.Ckpt` are not covered
    * by it.
    */
  private[pipeline] def countedWrite(df: DataFrame)(save: DataFrameWriter[Row] => Unit): Long = {
    val rows = Observation()
    save(df.observe(rows, count(lit(1))).write)
    Await.result(rows.future, MetricWait).getLong(0)
  }
}

/** The local parquet stand-in — the default destination this sandbox can
  * actually exercise. Path-addressed (`layout.warehouse(table)`),
  * truncate-overwrite per run.
  *
  *   - [[load]] is one Spark job, the parquet write, and returns the
  *     rows that job wrote (exactly-once, see
  *     [[WarehouseSink.countedWrite]]).
  *   - [[read]] reads the warehouse path under the declared schema of the
  *     run date named by `layout` — the schema JSON the load just
  *     used — so no footer-inference job runs. It is the reader for the
  *     pipeline's own run; a later reader of the warehouse, which does
  *     not know that date, uses `spark.read.parquet`.
  */
object ParquetWarehouseSink extends WarehouseSink {
  override def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long =
    WarehouseSink.countedWrite(Pipeline.readClean(spark, layout, table))(
      _.mode(SaveMode.Overwrite).parquet(layout.warehouse(table)))
  override def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
    spark.read.schema(Pipeline.declaredSchema(spark, layout, table)).parquet(layout.warehouse(table))
}

/** Catalog-table destination (`WRITE_TRUNCATE` ≡
  * `mode(Overwrite).saveAsTable`) — the managed-table flavor of the
  * stand-in. One Spark job, the `saveAsTable` write, counted inside it.
  */
object CatalogWarehouseSink extends WarehouseSink {
  override def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long =
    WarehouseSink.countedWrite(Pipeline.readClean(spark, layout, table))(
      _.mode(SaveMode.Overwrite).saveAsTable(table))
  override def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
    spark.table(table)
}

/** The full load-job-contract destination: routes through [[BqLoad]], so
  * the write enforces explicit-schema parsing, `max_bad_records`,
  * atomic failure, and the disposition — the closest local twin of the
  * importer's actual call. A production BigQuery sink would subclass
  * this shape with the connector write.
  */
final case class BqLoadWarehouseSink(
    disposition: BqLoad.WriteDisposition = BqLoad.WriteTruncate,
    maxBadRecords: Long = 0L) extends WarehouseSink {
  override def load(spark: SparkSession, layout: Pipeline.Layout, table: String): Long = {
    val schemaJson = SchemaFile.readText(spark, layout.schemaJson(table))
    BqLoad.load(
      spark,
      layout.cleanCsv(table),
      table,
      BqLoad.LoadJobConfig(
        schemaJson,
        skipLeadingRows = 0,
        writeDisposition = disposition,
        maxBadRecords = maxBadRecords)).outputRows
  }
  override def read(spark: SparkSession, layout: Pipeline.Layout, table: String): DataFrame =
    spark.table(table)
}
