package graft

import org.apache.spark.sql.SparkSession

import graft.etl.{EtlConfig, Pipeline}

/** CLI entry point for the taxi ETL — the analog of the reference's
  * TextEtl.Cli/Program.cs:26-55 (config → pipeline → print run stats).
  *
  * Usage: EtlMain <input.csv> <outputDir> [--no-tz-conversion]
  *                [--delimiter C] [--format F]
  * Writes <outputDir>/trips (parquet) and <outputDir>/duplicates (csv),
  * prints the six counters as one JSON line.
  */
object EtlMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: EtlMain <input.csv> <outputDir> [--no-tz-conversion] " +
          "[--delimiter C] [--format F]")
      sys.exit(2)
    }
    val input = args(0)
    val outDir = args(1)
    val rest = args.drop(2)
    def optValue(flag: String): Option[String] =
      rest.indexOf(flag) match {
        case i if i >= 0 && i + 1 < rest.length => Some(rest(i + 1))
        case _ => None
      }
    val config = EtlConfig(
      inputCsvPath = input,
      duplicatesCsvPath = s"$outDir/duplicates",
      insertedPath = s"$outDir/trips",
      delimiter = optValue("--delimiter").getOrElse(","),
      inputDateTimeFormat = optValue("--format"),
      enableTimeZoneConversion = !rest.contains("--no-tz-conversion"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(Pipeline.run(spark, config).toJson)
    finally spark.stop()
  }
}
