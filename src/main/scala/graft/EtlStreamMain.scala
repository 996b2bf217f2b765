package graft

import org.apache.spark.sql.SparkSession

import graft.etl.{CsvSource, EtlConfig}
import graft.streaming.StreamingOps

/** Streaming CLI for the taxi ETL: watches a directory of headerless
  * delimited files (canonical 9-column order) and runs the FULL
  * three-consumer pipeline continuously — trips parquet, duplicates side
  * CSV, and the six run counters (printed as JSON on exit), matching the
  * batch `EtlMain` surface over an unbounded source.
  *
  * Dedup is first-ARRIVAL-wins: a directory stream has no global file
  * order, so the ordinal is a per-batch arrival surrogate
  * (monotonically_increasing_id — stable within the batch that computes
  * it, which is all the within-batch window needs; cross-batch order is
  * the batch sequence itself via the seen-keys state).
  *
  * Usage: EtlStreamMain <inputDir> <outputDir> [--follow]
  * Without --follow, drains everything currently available
  * (processAllAvailable) and exits; with it, follows the directory until
  * killed.
  */
object EtlStreamMain {
  def main(args: Array[String]): Unit = {
    val Array(inputDir, outputDir, rest @ _*) = args: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-etl-stream")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val colIdx = CsvSource.RequiredColumns.zipWithIndex.toMap
    val counters = new StreamingOps.TaxiStreamCounters
    val q = StreamingOps.runTaxiEtlStream(
      spark.readStream.text(inputDir),
      EtlConfig(inputCsvPath = inputDir,
        duplicatesCsvPath = s"$outputDir/duplicates",
        insertedPath = s"$outputDir/trips"),
      colIdx,
      seenKeysPath = s"$outputDir/seen_keys",
      counters = counters,
      checkpointDir = s"$outputDir/checkpoint")
    if (rest.contains("--follow")) q.awaitTermination()
    else { q.processAllAvailable(); q.stop() } // drain-and-exit default
    println(counters.snapshot.toJson)
    spark.stop()
  }
}
