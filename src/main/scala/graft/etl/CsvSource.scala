package graft.etl

import java.util.regex.Pattern

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** S1–S3 — CSV source with the reference's exact read semantics
  * (TaxiEtl/TaxiEtl.Infrastructure/Persistence/Services/CsvTripReaderService.cs):
  *
  *  - naive `split(delimiter)` with NO quote/escape handling (`:119`) —
  *    deliberately not Spark's univocity CSV reader, which honors quotes;
  *  - rows shorter than a required column index are null-padded (`:121-124`);
  *  - blank lines are skipped WITHOUT consuming a line number (`:97-101`);
  *  - 1-based data-row `line_number` in file order;
  *  - header resolved case-insensitively, first duplicate name wins
  *    (`:163-184`), fail-fast when a required column is missing (`:210-221`).
  *
  * Scale: the file is read as parallel text splits. The only extra pass is
  * the single lightweight `zipWithIndex` count job that assigns stable
  * file-order ordinals (SURVEY §7.4 H1) — `monotonically_increasing_id`
  * would NOT be stable across split planning. Header skipping is done in
  * partition 0 directly, so there is no second indexing pass.
  */
object CsvSource {

  /** Canonical required columns, resolved by name (TripFieldNames.cs:9-18). */
  val RequiredColumns: Seq[String] = Seq(
    "tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count",
    "trip_distance", "store_and_fwd_flag", "PULocationID", "DOLocationID",
    "fare_amount", "tip_amount")

  val LineNumberCol = "line_number"

  /** Raw (pre-parse) column name for a canonical field. */
  def rawCol(field: String): String = s"raw_$field"

  private def splitLine(line: String, delimiter: String): Array[String] =
    line.split(Pattern.quote(delimiter), -1) // -1: keep trailing empty fields

  /** Case-insensitive name→index map, first occurrence wins on duplicates. */
  private[etl] def columnMap(headerCols: Seq[String]): Map[String, Int] =
    headerCols.iterator.zipWithIndex.foldLeft(Map.empty[String, Int]) {
      case (m, (name, i)) =>
        val k = name.trim.toLowerCase
        if (m.contains(k)) m else m + (k -> i)
    }

  /** Files a path/glob resolves to (one level of directory expansion) —
    * shared by the single-file guard in [[read]] and the shard listing in
    * [[readSharded]] so both always agree on what "the input files" are. */
  private def resolveInputFiles(
      spark: SparkSession, path: String): Array[org.apache.hadoop.fs.FileStatus] = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(hPath) match {
      case null => Array.empty
      case sts => sts.flatMap {
        case d if d.isDirectory => fs.listStatus(d.getPath).filter(_.isFile)
        case f => Array(f)
      }
    }
  }

  /** Read the CSV into line_number + raw_* string columns (one per required
    * column, in canonical order). Throws IllegalArgumentException when a
    * required column is absent from the header. */
  def read(spark: SparkSession, path: String, delimiter: String = ","): DataFrame = {
    // The in-place header drop below assumes exactly one input file
    // (partition 0 = byte 0 of THE file). A directory or glob would
    // silently treat every other file's header as a data row — fail fast
    // instead; multi-file ingestion belongs to a per-file wrapper that
    // assigns (file_id, offset) ordinals (PERF.md's documented scale path).
    val resolved = resolveInputFiles(spark, path)
    if (resolved.length != 1)
      throw new IllegalArgumentException(
        s"CSV source requires exactly one input file, '$path' resolves to " +
          s"${resolved.length} (line numbers and header handling are per-file)")
    val lines = spark.sparkContext.textFile(path)
    val headerLine = lines.first() match {
      case h if h.startsWith("﻿") => h.substring(1) // BOM, like .NET StreamReader
      case h => h
    }
    val cmap = columnMap(splitLine(headerLine, delimiter).toIndexedSeq)
    val missing = RequiredColumns.filterNot(c => cmap.contains(c.toLowerCase))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"required column(s) missing from CSV header: ${missing.mkString(", ")}")
    val indices = RequiredColumns.map(c => cmap(c.toLowerCase)).toArray

    val delim = delimiter
    val data = lines
      // drop the header in place: partition 0 of a single-file textFile
      // starts at byte 0, so its first element is the header line
      .mapPartitionsWithIndex((pi, it) => if (pi == 0) it.drop(1) else it)
      .filter(l => l.trim.nonEmpty) // blank lines don't consume a number
      .zipWithIndex()
      .map { case (line, idx0) =>
        val fields = splitLine(line, delim)
        val cells = indices.map(j => if (j < fields.length) fields(j) else null)
        Row.fromSeq((idx0 + 1L) +: cells.toSeq)
      }

    val schema = StructType(
      StructField(LineNumberCol, LongType, nullable = false) +:
        RequiredColumns.map(c => StructField(rawCol(c), StringType, nullable = true)))
    spark.createDataFrame(data, schema)
  }

  val SrcFileCol = "src_file"
  val ByteOffsetCol = "byte_offset"

  /** The 100 TB ingestion path: a directory/glob of CSV shards, ordered by
    * (src_file, byte_offset) instead of a global line number.
    *
    * Why this exists: `read`'s file-order line numbers need a
    * `zipWithIndex` count job — fine for one file, a needless global
    * barrier for a sharded dataset. Here the ordinal is the line's OWN
    * byte offset (TextInputFormat hands it to every record for free), so
    * there is no counting pass at all, and first-wins dedup ordering is
    * (src_file, byte_offset) lexicographic — stable under any split
    * planning, any number of files.
    *
    * Per-file headers: every shard's offset-0 line is its header; they are
    * validated identical to the resolved header (fail-fast on drift — a
    * reordered shard would otherwise silently misassign columns) and
    * dropped by the `offset != 0` filter, with no special-casing of
    * partition 0. Blank lines are skipped; offsets are naturally sparse so
    * nothing needs renumbering. */
  def readSharded(spark: SparkSession, path: String, delimiter: String = ","): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import org.apache.hadoop.mapreduce.lib.input.{FileSplit, TextInputFormat}

    val files = resolveInputFiles(spark, path).map(_.getPath.toString).sorted
    require(files.nonEmpty, s"no input files match '$path'")

    // resolve + cross-validate headers with one tiny distributed job (one
    // line read per shard) — no full scan before the real one. The
    // session's Hadoop configuration must travel to the executors (a bare
    // `new Configuration()` would drop spark.hadoop.* credentials and fs
    // settings — fatal on s3a/hdfs, invisible on local fs), so its
    // properties are shipped through the closure and rebuilt per task.
    val confProps: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val buf = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.result()
    }
    val headerLines = spark.sparkContext
      .parallelize(files.toIndexedSeq, math.min(files.length, 64))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration(false)
        confProps.foreach { case (k, v) => conf.set(k, v) }
        val p = new org.apache.hadoop.fs.Path(f)
        val in = p.getFileSystem(conf).open(p)
        try {
          val r = new java.io.BufferedReader(new java.io.InputStreamReader(
            in, java.nio.charset.StandardCharsets.UTF_8))
          (f, Option(r.readLine()).getOrElse(""))
        } finally in.close()
      }.collect().toMap
    val first = headerLines(files.head) match {
      case h if h.startsWith("﻿") => h.substring(1)
      case h => h
    }
    val cmap = columnMap(splitLine(first, delimiter).toIndexedSeq)
    val missing = RequiredColumns.filterNot(c => cmap.contains(c.toLowerCase))
    require(missing.isEmpty,
      s"required column(s) missing from CSV header: ${missing.mkString(", ")}")
    val drift = headerLines.filter { case (_, h) =>
      columnMap(splitLine(h.stripPrefix("﻿"), delimiter).toIndexedSeq) != cmap }
    require(drift.isEmpty,
      s"shard header drift (reorder/rename) in: ${drift.keys.toSeq.sorted.mkString(", ")}")
    val indices = RequiredColumns.map(c => cmap(c.toLowerCase)).toArray

    val delim = delimiter
    val rows = spark.sparkContext.newAPIHadoopFile(
        path, classOf[TextInputFormat], classOf[LongWritable], classOf[Text])
      .asInstanceOf[org.apache.spark.rdd.NewHadoopRDD[LongWritable, Text]]
      .mapPartitionsWithInputSplit { (split, it) =>
        val file = split.asInstanceOf[FileSplit].getPath.toString
        it.collect { case (off, line)
            if off.get != 0L && line.toString.trim.nonEmpty =>
          val fields = splitLine(line.toString, delim)
          val cells = indices.map(j => if (j < fields.length) fields(j) else null)
          Row.fromSeq(file +: off.get +: cells.toSeq)
        }
      }
    val schema = StructType(
      StructField(SrcFileCol, StringType, nullable = false) +:
        StructField(ByteOffsetCol, LongType, nullable = false) +:
        RequiredColumns.map(c => StructField(rawCol(c), StringType, nullable = true)))
    spark.createDataFrame(rows, schema)
  }
}
