package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import CsvSource.rawCol

/** S4/S5 — the two sinks.
  *
  * S5 "table" sink: the harness has no SQL Server, so the canonical target
  * is a parquet directory with the dbo.Trips schema (script.sql:31-47),
  * including the persisted computed column materialized at write time
  * (script.sql:44). `writeInsertedJdbc` carries the reference's batched
  * bulk-load configuration (SqlBulkTripInserterService.cs:57-129 →
  * JDBC `batchsize`) for a real database target.
  *
  * S4 duplicates sink: losers of first-wins dedup, written as the RAW
  * pre-parse strings + LineNumber (CsvDuplicateTripWriter.cs:21-33,116-133
  * — SURVEY §7.4 H5: NOT the normalized values). Spark's CSV writer quoting
  * is RFC-4180 (quote iff needed, double inner quotes), matching
  * `:135-158`.
  */
object Sinks {

  /** Target-table columns in dbo.Trips order (script.sql:33-44). */
  private val tripCols = Seq(
    col("pickup_utc").as("tpep_pickup_datetime"),
    col("dropoff_utc").as("tpep_dropoff_datetime"),
    col("passenger_count"),
    col("trip_distance"),
    col("store_and_fwd_flag"),
    col("pulocation_id").as("PULocationID"),
    col("dolocation_id").as("DOLocationID"),
    col("fare_amount"),
    col("tip_amount"),
    col("travel_time_seconds").as("TravelTimeSeconds"))

  /** Inserted rows in the dbo.Trips column shape (the batch pipeline's
    * and the streaming taxi sink's table writes). */
  def insertedRows(annotated: DataFrame): DataFrame =
    annotated.filter(Stats.statusCol === "inserted").select(tripCols: _*)

  def writeInserted(annotated: DataFrame, path: String): Unit =
    insertedRows(annotated).write.mode(SaveMode.Overwrite).parquet(path)

  /** JDBC variant of S5 — untestable in this container (no database), but
    * the full configuration surface of the reference's bulk insert. */
  def writeInsertedJdbc(
      annotated: DataFrame, url: String, table: String, batchSize: Int): Unit =
    insertedRows(annotated).write.mode(SaveMode.Append)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .save()

  /** Duplicate rows in the duplicates-file shape: LineNumber + the RAW
    * pre-parse strings. */
  def duplicateRows(annotated: DataFrame): DataFrame =
    annotated.filter(Stats.statusCol === "duplicate").select(
      col(CsvSource.LineNumberCol).as("LineNumber") +:
        CsvSource.RequiredColumns.map(c => col(rawCol(c)).as(c)): _*)

  /** Append-across-runs, like the reference: CsvDuplicateTripWriter.cs:56-109
    * opens duplicates.csv in append mode and writes the header only when
    * the file is absent. Reproduced distributed-ly: existing rows (read
    * back from the single CSV part, file order preserved by the
    * one-partition read) come first, the new run's rows follow in line
    * order, and the whole file is rewritten via a temp dir + atomic-ish
    * rename — so the final content is byte-equivalent to a true append
    * with one header. No collect: rows never pass through the driver. */
  def writeDuplicates(annotated: DataFrame, path: String): Unit = {
    val fresh = duplicateRows(annotated)
    val spark = fresh.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out =
      if (fs.exists(target)) {
        val existing = spark.read.option("header", "true").schema(fresh.schema)
          .csv(path)
          .coalesce(1) // single part file: one partition keeps file order
          .withColumn("_run", lit(0))
          .withColumn("_idx", monotonically_increasing_id())
        val appended = fresh
          .withColumn("_run", lit(1))
          .withColumn("_idx", col("LineNumber"))
        existing.union(appended)
          .orderBy(col("_run"), col("_idx"))
          .drop("_run", "_idx")
      } else fresh.orderBy("LineNumber")
    overwriteSingleCsv(out, path)
  }

  /** Replace `path` with a single-part headered CSV of `out` via tmp +
    * backup rename — the atomic-ish swap shared by the batch append above
    * and the streaming sink's committed-state rebuild. Deterministic for
    * a deterministic `out`, so re-running it after a crash converges. */
  def overwriteSingleCsv(out: DataFrame, path: String): Unit = {
    val spark = out.sparkSession
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "._tmp")
    out.coalesce(1) // one small side file, like the reference's single duplicates.csv
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .csv(tmp.toString)
    // swap via a backup rename, not delete-then-rename: a crash between a
    // delete and the rename would lose every prior run's accumulated
    // duplicates — something a true append can never do. Worst case here
    // leaves the old data at ._bak plus the new data at ._tmp, both
    // recoverable.
    val bak = new org.apache.hadoop.fs.Path(path + "._bak")
    fs.delete(bak, true)
    if (fs.exists(target)) fs.rename(target, bak)
    fs.rename(tmp, target)
    fs.delete(bak, true)
  }
}
