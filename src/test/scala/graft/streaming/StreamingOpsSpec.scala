package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Streaming semantics, driven through MemoryStream micro-batches: state
  * must carry ACROSS batches (that is what distinguishes streaming dedup
  * from a per-batch dropDuplicates). */
class StreamingOpsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming dedup drops duplicate keys across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Int)]
    val deduped = StreamingOps.dedupWithinWatermark(
      input.toDS().toDF("ts", "k", "v"), "ts", "10 minutes", Seq("k"))
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData((ts("2024-01-01 00:00:00"), "a", 1), (ts("2024-01-01 00:00:10"), "a", 2),
        (ts("2024-01-01 00:00:20"), "b", 3))
      q.processAllAvailable()
      // second batch: duplicate of "a" within the watermark window
      input.addData((ts("2024-01-01 00:01:00"), "a", 4), (ts("2024-01-01 00:01:10"), "c", 5))
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("k", "v").as[(String, Int)]
        .collect().sortBy(_._1)
      assert(out.map(_._1).toSeq == Seq("a", "b", "c"))
      assert(out.find(_._1 == "a").get._2 == 1) // FIRST occurrence won
    } finally q.stop()
  }

  test("windowed counts aggregate by event-time window with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val counts = StreamingOps.windowedCounts(
      input.toDS().toDF("ts", "g"), "ts", "5 minutes", "10 minutes", "g")
    val q = counts.writeStream.format("memory")
      .queryName("win_out").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "x"), (ts("2024-01-01 00:02:00"), "x"),
        (ts("2024-01-01 00:11:00"), "x"), (ts("2024-01-01 00:03:00"), "y"))
      q.processAllAvailable()
      val out = spark.table("win_out")
        .select("window_start", "g", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(out.contains((ts("2024-01-01 00:00:00"), "x", 2L)))
      assert(out.contains((ts("2024-01-01 00:10:00"), "x", 1L)))
      assert(out.contains((ts("2024-01-01 00:00:00"), "y", 1L)))
    } finally q.stop()
  }

  test("taxi ETL runs as a stream: parse + normalize + cross-batch dedup") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val colIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap
    val out = tmpDir("taxistreamsmall")
    val counters = new StreamingOps.TaxiStreamCounters
    val q = StreamingOps.runTaxiEtlStream(
      input.toDS().toDF("value"),
      graft.etl.EtlConfig(inputCsvPath = "",
        duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips"),
      colIdx, s"$out/seen_keys", counters, s"$out/ckpt")
    try {
      input.addData(
        "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47",
        "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,9.9,Y,1,2,3,4", // dup key
        "bad-date,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47",        // invalid
        "")                                                               // blank
      q.processAllAvailable()
      // second batch: same key again -> state drops it
      input.addData("01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,0.1,N,9,9,1,1")
      q.processAllAvailable()
      val rows = StreamingOps.committedTrips(spark, s"$out/trips").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[java.sql.Timestamp]("tpep_pickup_datetime") ==
        java.sql.Timestamp.valueOf("2020-01-01 05:28:15")) // EST->UTC applied
      assert(rows(0).getAs[Int]("TravelTimeSeconds") == 288)
      // total 4: the blank line is not counted; parsed 3 and invalid 1:
      // `bad-date` fails parse; duplicates 2: one within the first batch,
      // one across batches; inserted 1; duplicates-file rows = duplicates
      assert(counters.snapshot == graft.etl.Stats.EtlStats(4, 3, 1, 2, 1, 2))
    } finally q.stop()
  }

  test("streaming taxi pipeline: three consumers reproduce the golden stats") {
    val referenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"
    assume(new java.io.File(referenceCsv).exists())
    implicit val sqlCtx = spark.sqlContext
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(referenceCsv)).asScala.toSeq
    // header resolved the same way as batch: CI name -> index, then data
    // lines numbered in file order with blanks not consuming a number
    val header = lines.head.stripPrefix("﻿").split(",", -1)
      .iterator.zipWithIndex
      .foldLeft(Map.empty[String, Int]) { case (m, (n, i)) =>
        val k = n.trim.toLowerCase
        if (m.contains(k)) m else m + (k -> i)
      }
    val colIdx = graft.etl.CsvSource.RequiredColumns
      .map(c => c -> header(c.toLowerCase)).toMap
    val data = lines.drop(1).filter(_.trim.nonEmpty).zipWithIndex
      .map { case (l, i) => (i + 1L, l) }

    val out = tmpDir("taxistream")
    val counters = new StreamingOps.TaxiStreamCounters
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runTaxiEtlStream(
      input.toDS().toDF("line_number", "value"),
      graft.etl.EtlConfig(inputCsvPath = "",
        duplicatesCsvPath = s"$out/duplicates", insertedPath = s"$out/trips"),
      colIdx, s"$out/seen_keys", counters, s"$out/ckpt")
    try {
      // three micro-batches in file order: the 15 golden duplicates and
      // their winners straddle batch boundaries, exercising the
      // cross-batch seen-keys state, not just the within-batch window
      data.grouped(10000).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable()
      }
      assert(counters.snapshot == graft.etl.Stats.EtlStats(
        total = 30000, parsed = 29855, invalid = 145,
        duplicates = 15, inserted = 29840, duplicatesFileRows = 15))
      val trips = spark.read.parquet(s"$out/trips")
      assert(trips.count() == 29840)
      assert(trips.columns.contains("TravelTimeSeconds"))
      val dupCsv = spark.read.option("header", "true").csv(s"$out/duplicates")
      assert(dupCsv.count() == 15)
      assert(dupCsv.columns.head == "LineNumber")
    } finally q.stop()
  }

  test("taxi sink is exactly-once: crash at every write boundary, replay, golden stats") {
    val referenceCsv = "/root/reference/TaxiEtl/data/sample-cab-data.csv"
    assume(new java.io.File(referenceCsv).exists())
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(referenceCsv)).asScala.toSeq
    val header = lines.head.stripPrefix("﻿").split(",", -1)
      .iterator.zipWithIndex
      .foldLeft(Map.empty[String, Int]) { case (m, (n, i)) =>
        val k = n.trim.toLowerCase
        if (m.contains(k)) m else m + (k -> i)
      }
    val colIdx = graft.etl.CsvSource.RequiredColumns
      .map(c => c -> header(c.toLowerCase)).toMap
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    // three deterministic micro-batches straddling the golden duplicates,
    // annotated EXACTLY as the streaming query would annotate them —
    // foreachBatch replay after a checkpoint restart redelivers the same
    // (dataframe, batchId), which is what invoking the processor directly
    // with fixed frames models
    val batches = lines.drop(1).filter(_.trim.nonEmpty).zipWithIndex
      .map { case (l, i) => (i + 1L, l) }
      .grouped(10000).toSeq.zipWithIndex
      .map { case (chunk, b) =>
        (b.toLong, StreamingOps.annotateTaxiLines(
          chunk.toDF("line_number", "value"), config, colIdx))
      }
    val golden = graft.etl.Stats.EtlStats(
      total = 30000, parsed = 29855, invalid = 145,
      duplicates = 15, inserted = 29840, duplicatesFileRows = 15)
    val out = tmpDir("taxieo")
    val (trips, dups, seen) = (s"$out/trips", s"$out/duplicates", s"$out/seen_keys")

    // crash points that bracket every write: between the inserted append
    // and the seen-keys append, after the seen-keys append, after the
    // side-state, after the CSV rebuild, and after the marker itself
    val crashes = Seq("after-inserted", "after-seen", "after-dupstate",
      "after-csv", "after-marker")
    var armed: Option[String] = None
    def processor(counters: StreamingOps.TaxiStreamCounters) =
      new StreamingOps.TaxiStreamProcessor(trips, dups, seen, counters,
        faultPoint = p => if (armed.contains(p)) {
          armed = None
          throw new RuntimeException(s"injected crash $p")
        })
    // batch 0 commits cleanly on a fresh processor; every later batch is
    // first attempted by a "process" that crashes at one boundary, then a
    // RESTARTED processor (fresh instance + fresh counters = checkpoint
    // recovery) replays the SAME batch before moving on — batch ids cycle
    // through all five crash points across the three batches, twice
    var lastCounters = new StreamingOps.TaxiStreamCounters
    var p = processor(lastCounters)
    batches.foreach { case (b, df) =>
      crashes.zipWithIndex.foreach { case (site, i) =>
        if ((b + i) % 2 == 0) { // alternate which attempts crash, cover all
          armed = Some(site)
          try { p.apply(df, b); armed = None } catch {
            case e: RuntimeException if e.getMessage.startsWith("injected") =>
              // "kill" the stream: restart = new processor + new counters
              p.close()
              lastCounters = new StreamingOps.TaxiStreamCounters
              p = processor(lastCounters)
          }
        }
      }
      p.apply(df, b) // the replay/commit attempt that must converge
    }
    p.close()
    // final restart: counters must reconstruct from the commit log alone
    val finalCounters = new StreamingOps.TaxiStreamCounters
    val pf = processor(finalCounters)
    pf.apply(batches.last._2, batches.last._1) // replay of a committed batch: no-op
    pf.close()
    assert(finalCounters.snapshot == golden)
    assert(lastCounters.snapshot == golden)
    // kept set identical to the batch pipeline's winners, exactly once
    val streamed = StreamingOps.committedTrips(spark, trips)
    assert(streamed.count() == 29840)
    val streamKeys = streamed
      .select("tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count")
      .collect().map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString))
    assert(streamKeys.length == streamKeys.toSet.size, "double-applied batch")
    val batchRun = graft.etl.Pipeline.annotate(spark, config.copy(
      inputCsvPath = referenceCsv))
    val batchKeys = graft.etl.Sinks.insertedRows(batchRun)
      .select("tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count")
      .collect().map(r => (r.get(0).toString, r.get(1).toString, r.get(2).toString))
    assert(streamKeys.toSet == batchKeys.toSet)
    // duplicates CSV: the golden 15, exactly once, despite crash-replays
    val dupCsv = spark.read.option("header", "true").csv(dups)
    assert(dupCsv.count() == 15)
    assert(dupCsv.columns.head == "LineNumber")
  }

  test("taxi sink is exactly-once on in-test lines: crash at every boundary, matches Pipeline.run") {
    import spark.implicits._
    val lines = Seq(
      // batch 0: two winners, an in-batch duplicate, a parse failure
      "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47",
      "01/01/2020 01:00:00 AM,01/01/2020 01:10:00 AM,2,3.4,Y,10,20,30,4",
      "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,9.9,Y,1,2,3,4",
      "bad-date,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47",
      // batch 1: a duplicate of batch 0, a normalize failure (flag), a winner
      "01/01/2020 01:00:00 AM,01/01/2020 01:10:00 AM,2,0.5,N,1,1,1,1",
      "01/02/2020 03:00:00 AM,01/02/2020 03:05:00 AM,1,1.0,X,1,2,3,0",
      "01/02/2020 04:00:00 AM,01/02/2020 04:30:00 AM,3,5.0,N,5,6,20,2",
      // batch 2: duplicates of batches 1 and 0 around a winner
      "01/02/2020 04:00:00 AM,01/02/2020 04:30:00 AM,3,7.0,Y,7,8,9,1",
      "01/03/2020 10:00:00 AM,01/03/2020 10:20:00 AM,1,2.0,N,3,4,10,1",
      "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,0.1,N,9,9,1,1")
    val colIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap
    val ref = tmpDir("taxihermref")
    val csv = new java.io.File(ref, "trips.csv")
    java.nio.file.Files.write(csv.toPath,
      (graft.etl.CsvSource.RequiredColumns.mkString(",") +: lines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    val config = graft.etl.EtlConfig(inputCsvPath = csv.getPath,
      duplicatesCsvPath = s"$ref/duplicates", insertedPath = s"$ref/trips")
    val expected = graft.etl.Pipeline.run(spark, config)
    assert(expected == graft.etl.Stats.EtlStats(10, 9, 2, 4, 4, 4))

    val frames = Seq(0 until 4, 4 until 7, 7 until 10).zipWithIndex
      .map { case (idx, b) =>
        (b.toLong, StreamingOps.annotateTaxiLines(
          idx.map(i => (i + 1L, lines(i))).toDF("line_number", "value"),
          config, colIdx))
      }
    val out = tmpDir("taxihermcrash")
    val (trips, dups, seen) = (s"$out/trips", s"$out/duplicates", s"$out/seen_keys")
    var counters = new StreamingOps.TaxiStreamCounters
    def processor(fp: String => Unit) = {
      counters = new StreamingOps.TaxiStreamCounters
      new StreamingOps.TaxiStreamProcessor(trips, dups, seen, counters,
        faultPoint = fp)
    }
    crashReplayDrive[StreamingOps.TaxiStreamProcessor](frames,
      Seq("after-inserted", "after-seen", "after-dupstate", "after-csv",
        "after-marker"),
      processor)((p, b, df) => p.apply(df, b))(_.close())
    assert(counters.snapshot == expected)
    // a restart over the finished log: counters from the markers alone,
    // the replay of a committed batch a no-op
    val pf = processor(_ => ())
    try pf.apply(frames.last._2, frames.last._1) finally pf.close()
    assert(counters.snapshot == expected)

    def keys(df: org.apache.spark.sql.DataFrame) = df
      .select("tpep_pickup_datetime", "tpep_dropoff_datetime", "passenger_count")
      .collect().map(_.toSeq).toSeq
    val streamed = keys(StreamingOps.committedTrips(spark, trips))
    assert(streamed.length == streamed.toSet.size, s"double-applied batch: $streamed")
    assert(streamed.toSet == keys(spark.read.parquet(config.insertedPath)).toSet)
    def csvRows(path: String) = spark.read.option("header", "true").csv(path)
      .collect().map(_.toSeq).toSeq
    assert(csvRows(dups) == csvRows(config.duplicatesCsvPath))
  }

  test("taxi seen-keys legacy flat layout fails loudly at bootstrap") {
    import spark.implicits._
    val out = tmpDir("taxilegacy")
    // pre-r10 layout: seen-key batches directly under seenKeysPath — the
    // changelog bootstrap reads seenKeysPath/seen/ and would otherwise
    // silently start empty, re-admitting every previously seen key
    Seq(("2020-01-01 05:28:15", "2020-01-01 05:33:03", 1))
      .toDF("pickup_utc", "dropoff_utc", "passenger_count")
      .write.parquet(s"$out/seen_keys/batch_id=0")
    val colIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    val df = StreamingOps.annotateTaxiLines(
      Seq((1L, "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47"))
        .toDF("line_number", "value"), config, colIdx)
    val p = new StreamingOps.TaxiStreamProcessor(s"$out/trips", s"$out/dups",
      s"$out/seen_keys", new StreamingOps.TaxiStreamCounters)
    val e = intercept[IllegalStateException] { p.apply(df, 0L) }
    assert(e.getMessage.contains("legacy flat"))
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap, keeps open state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.SessionEvent]
    val sessions = StreamingOps.sessionizeStream(input.toDS(), gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory")
      .queryName("sess_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        StreamingOps.SessionEvent("u1", ts("2024-01-01 00:00:00")),
        StreamingOps.SessionEvent("u1", ts("2024-01-01 00:05:00")),
        StreamingOps.SessionEvent("u2", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // nothing closed yet: both sessions still open in state
      assert(spark.table("sess_out").count() == 0)
      // u1 returns after a > 10 min gap: first session closes via the gap
      // logic; u2's idle session may also flush via the event-time timeout
      // once the watermark passes its deadline
      input.addData(StreamingOps.SessionEvent("u1", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val closed = spark.table("sess_out").as[StreamingOps.Session].collect()
      val u1 = closed.filter(_.user == "u1")
      assert(u1.length == 1)
      assert(u1(0).nEvents == 2)
      assert(u1(0).start == ts("2024-01-01 00:00:00"))
      assert(u1(0).end == ts("2024-01-01 00:05:00"))
      // the still-open u1 session (started 01:00) must NOT be emitted
      assert(!closed.exists(_.start == ts("2024-01-01 01:00:00")))
    } finally q.stop()
  }

  test("sessionization widens on late-but-admitted events, never shrinks") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.SessionEvent]
    val sessions = StreamingOps.sessionizeStream(input.toDS(), gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.format("memory")
      .queryName("sess_late_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamingOps.SessionEvent("u1", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // late event (before the open session's start) still inside the
      // 10-minute watermark: must extend the session backwards
      input.addData(StreamingOps.SessionEvent("u1", ts("2024-01-01 09:55:00")))
      q.processAllAvailable()
      // a much later event closes the first session
      input.addData(StreamingOps.SessionEvent("u1", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val closed = spark.table("sess_late_out").as[StreamingOps.Session]
        .collect().filter(_.nEvents == 2)
      assert(closed.length == 1)
      assert(closed(0).start == ts("2024-01-01 09:55:00"))
      assert(closed(0).end == ts("2024-01-01 10:00:00")) // NOT moved backwards
    } finally q.stop()
  }

  test("streaming minhash ingest dedup drops near-dups of previously kept docs") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2" // jaccard ~0.9 vs base
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val out = tmpDir("mhstream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: 2 loses to 1 inside the batch cluster
      input.addData((1L, base), (2L, near))
      q.processAllAvailable()
      // batch 2: 3 is a near-dup of KEPT doc 1 (cross-batch state), 4 is novel
      input.addData((3L, near), (4L, other))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 4L))
    } finally q.stop()
  }

  test("batch incremental dedup reproduces the ingest stream's second-batch verdicts") {
    // THE batch/stream equivalence law: feeding the stream batch1 then
    // batch2 must agree with the batch operator run as
    // incrIngestDedup(base = stream's kept-after-batch1, incr = batch2) —
    // same policy, two execution models, spec-pinned so they cannot fork.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def doc(lo: Int): String = (lo until lo + 40).map(i => s"w$i").mkString(" ")
    def zdoc(lo: Int): String = (lo until lo + 40).map(i => s"z$i").mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val batch1 = Seq((1L, doc(1)), (2L, doc(1) + " x1 x2"), (3L, other))
    val batch2 = Seq(
      (10L, doc(3)),          // near-dup of kept 1 → dropped cross-batch
      (11L, other + " y1 y2"), // near-dup of kept 3 → dropped cross-batch
      (12L, zdoc(1)), (13L, zdoc(5)), // in-batch pair → 13 loses to 12
      (14L, "a b"))           // shingle-less → kept
    val out = tmpDir("incrlaw")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    val streamKept2 =
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        val kept1 = StreamingOps.committedKept(spark, s"$out/kept")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        assert(kept1 == Set(1L, 3L)) // 2 lost its in-batch cluster
        input.addData(batch2: _*)
        q.processAllAvailable()
        StreamingOps.committedKept(spark, s"$out/kept")
          .select("doc_id").collect().map(_.getLong(0)).toSet -- kept1
      } finally q.stop()
    val batchVerdicts = graft.ext.DedupOps.incrIngestDedup(
        StreamingOps.committedKept(spark, s"$out/kept")
          .filter($"doc_id" < 10L).select("doc_id", "text"),
        batch2.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchKept = batchVerdicts.collect { case (id, "kept") => id }.toSet
    assert(batchKept == streamKept2,
      s"stream kept $streamKept2, batch operator kept $batchKept")
    assert(batchVerdicts(10L) == "dropped_base" &&
      batchVerdicts(11L) == "dropped_base" &&
      batchVerdicts(13L) == "dropped_batch")
  }

  test("filtered ingest: Gopher gate drops junk before dedup; near-dups still deduped") {
    implicit val sqlCtx = spark.sqlContext
    // quality docs: a 20-token vocabulary (incl. >= 2 Gopher stopwords)
    // walked in three stride orders — 60 words, passes every rule; the
    // near-dup appends two tokens (shingle Jaccard ~ 0.95, still passes)
    val vocab = (Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d"))
    def walk(v: Vector[String]) =
      Seq(1, 3, 7).flatMap(k => (0 until 20).map(i => v((i * k) % 20))).mkString(" ")
    val good = walk(vocab)
    val goodNear = good + " x1 x2"
    val otherGood = walk(Vector("the", "and") ++ (1 to 18).map(i => f"item$i%02d"))
    val junk = "tiny doc here" // fails the 50-word floor
    val out = tmpDir("fmhstream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runFilteredMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: junk is gated out BEFORE the sink (never kept, never state)
      input.addData((1L, good), (2L, junk))
      q.processAllAvailable()
      // batch 2: 3 near-dups KEPT doc 1 (cross-batch state), 4 is novel
      input.addData((3L, goodNear), (4L, otherGood))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 4L))
      // the junk doc left no trace in the band state either: a later
      // byte-identical resend must be gated again, not matched to state
      input.addData((5L, junk))
      q.processAllAvailable()
      val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(1L, 4L))
    } finally q.stop()
  }

  test("safety-gated ingest: severe-term doc gated before dedup; near-dups still deduped") {
    implicit val sqlCtx = spark.sqlContext
    // quality-passing construction (the filtered-ingest vocabulary walk:
    // 60 words, distinct bigrams, stopwords) — the safety gate must act
    // on its OWN tiers, not piggyback on quality junk
    val vocab = (Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d"))
    def walk(v: Vector[String]) =
      Seq(1, 3, 7).flatMap(k => (0 until 20).map(i => v((i * k) % 20))).mkString(" ")
    val good = walk(vocab)
    val goodNear = good + " x1 x2"
    val otherGood = walk(Vector("the", "and") ++ (1 to 18).map(i => f"item$i%02d"))
    // severe tier: ONE occurrence of a severe term ("dup") drops the doc
    // even though every quality gate would pass it
    val severe = good + " dup"
    // moderate tier: 7 moderate hits in 67 tokens (flag_milli = 104)
    // breach the ratio cut
    val moderate = good + " slow big slow big slow big slow"
    val out = tmpDir("sfmhstream")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runSafetyFilteredMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: the severe doc is gated out BEFORE the sink (never
      // kept, never state) even though it near-dups doc 1
      input.addData((1L, good), (2L, severe), (3L, moderate))
      q.processAllAvailable()
      // batch 2: 4 near-dups KEPT doc 1 (cross-batch band state), 5 is
      // novel — the dedup machinery is fully live behind the gate
      input.addData((4L, goodNear), (5L, otherGood))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L), kept.toString)
      // the gated docs left no trace in the band state: byte-identical
      // resends must be gated again, not matched to state
      input.addData((6L, severe), (7L, moderate))
      q.processAllAvailable()
      val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(1L, 5L), kept2.toString)
    } finally q.stop()
  }

  test("gated multimodal ingest: text gate drops junk blobs before the " +
      "media sink; cross-container media near-dups still deduped") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = (Vector("the", "and") ++ (1 to 18).map(i => f"word$i%02d"))
    def walk(ks: Seq[Int]) =
      ks.flatMap(k => (0 until 20).map(i => vocab((i * k) % 20))).mkString(" ")
    val good = walk(Seq(1, 3, 7))
    val otherGood = walk(Seq(9, 11, 13)) // same vocab, disjoint strides:
                                         // quality-passing, media-unrelated
    val junk = "tiny doc here"           // fails the 50-word floor
    def blob(id: Long, text: String): Array[Byte] =
      graft.functions.MediaBytes.synth(id, UTF8String.fromString(text))
    val out = tmpDir("fmediastream")
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = StreamingOps.runFilteredMediaDedupStream(
      input.toDS().toDF("doc_id", "text", "blob"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: 301 (bmp) carries the SAME payload as 300 (png) — an
      // in-batch cross-container media dup, loses to 300; 302's junk
      // text is gated out BEFORE the sink (blob never hashed or stated)
      input.addData((300L, good, blob(300L, good)),
        (301L, good, blob(301L, good)), (302L, junk, blob(302L, junk)))
      q.processAllAvailable()
      // batch 2: 303 carries KEPT 300's payload again (cross-batch
      // media dup — dropped via the band state); 304 is novel and kept
      input.addData((303L, good, blob(303L, good)),
        (304L, otherGood, blob(304L, otherGood)))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(300L, 304L), kept.toString)
      // the junk doc left no trace in the band state: a byte-identical
      // payload resent with GOOD text must be judged on its own (novel
      // — nothing with the junk payload was ever admitted to state)...
      input.addData((305L, good + " tail tokens here now", blob(305L, junk)))
      q.processAllAvailable()
      val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept2 == Set(300L, 304L, 305L), kept2.toString)
      // ...and junk text is still gated regardless of its blob
      input.addData((306L, junk, blob(306L, junk)))
      q.processAllAvailable()
      val kept3 = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept3 == Set(300L, 304L, 305L), kept3.toString)
    } finally q.stop()
  }

  test("batch incremental SEMANTIC dedup reproduces the emb stream's " +
      "second-batch verdicts") {
    // the incr_ingest_dedup law's embedding twin: stream batch1 then
    // batch2 must agree with incrIngestSemDedup(base = kept-after-batch1,
    // incr = batch2) at the stream's 0.8 threshold
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val c35 = math.cos(math.toRadians(35)).toFloat
    val s35 = math.sin(math.toRadians(35)).toFloat
    def e(i: Int): Array[Float] = { val a = Array.fill(8)(0f); a(i) = 1f; a }
    def inPlane(i: Int, j: Int): Array[Float] = {
      val a = Array.fill(8)(0f); a(i) = c35; a(j) = s35; a
    }
    val batch1 = Seq((1L, e(0)), (2L, e(0).map(_ * 2f)), (3L, e(1)))
    val batch2 = Seq(
      (10L, inPlane(0, 4)),  // cos .819 vs kept 1 → dropped cross-batch
      (12L, e(2)), (14L, inPlane(2, 5)), // in-batch pair → 14 loses to 12
      (16L, e(3)))           // novel → kept
    val out = tmpDir("semincrlaw")
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.runEmbDedupStream(
      input.toDS().toDF("vec_id", "embedding"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    val streamKept2 =
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        val kept1 = StreamingOps.committedKept(spark, s"$out/kept")
          .select("vec_id").collect().map(_.getLong(0)).toSet
        assert(kept1 == Set(1L, 3L)) // 2 lost its in-batch cluster
        input.addData(batch2: _*)
        q.processAllAvailable()
        StreamingOps.committedKept(spark, s"$out/kept")
          .select("vec_id").collect().map(_.getLong(0)).toSet -- kept1
      } finally q.stop()
    val batchVerdicts = graft.ext.SimilarityOps.incrIngestSemDedup(
        StreamingOps.committedKept(spark, s"$out/kept")
          .filter($"vec_id" < 10L).select("vec_id", "embedding"),
        batch2.toDF("vec_id", "embedding"),
        threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batchKept = batchVerdicts.collect { case (id, "kept") => id }.toSet
    assert(batchKept == streamKept2,
      s"stream kept $streamKept2, batch operator kept $batchKept")
    assert(batchVerdicts(10L) == "dropped_base" &&
      batchVerdicts(14L) == "dropped_batch")
  }

  test("streaming embedding ingest dedup drops vector near-dups across batches") {
    implicit val sqlCtx = spark.sqlContext
    // unit-direction fixtures in 8 dims: v2 = scaled v1 (cosine 1.0),
    // v3 orthogonal to v1, v4 ~ v1 with small noise (cosine > 0.9)
    val v1 = Array(1f, 2f, 3f, 4f, 0f, 0f, 0f, 0f)
    val v2 = v1.map(_ * 2.5f)
    val v3 = Array(0f, 0f, 0f, 0f, 1f, 2f, 3f, 4f)
    val v4 = Array(1.05f, 2.05f, 2.95f, 4.02f, 0.1f, 0f, 0f, 0f)
    val out = tmpDir("embstream")
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingOps.runEmbDedupStream(
      input.toDS().toDF("vec_id", "embedding"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: 2 loses to 1 inside the batch cluster (cosine 1.0)
      input.addData((1L, v1), (2L, v2))
      q.processAllAvailable()
      // batch 2: 4 is a near-dup of KEPT vector 1 (cross-batch state),
      // 3 is orthogonal — novel
      input.addData((3L, v3), (4L, v4))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L))
    } finally q.stop()
  }

  test("minhash state bootstraps from the changelog after a restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val out = tmpDir("mhrestart")
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingOps.runMinhashDedupStream(
      in1.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt1")
    try {
      in1.addData((1L, base))
      q1.processAllAvailable()
    } finally q1.stop()
    // NEW stream, same state path: the in-memory store is gone with the
    // first query — doc 2 must still be caught as a dup of KEPT doc 1,
    // via the one-time changelog bootstrap
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.runMinhashDedupStream(
      in2.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt2")
    try {
      in2.addData((2L, near))
      q2.processAllAvailable()
      val kept = spark.read.parquet(s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L))
    } finally q2.stop()
  }

  test("fresh checkpoint over an existing commit log processes new batches (no silent skip)") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val out = tmpDir("mhfreshckpt")
    val in1 = MemoryStream[(Long, String)]
    val q1 = StreamingOps.runMinhashDedupStream(
      in1.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt1")
    try {
      in1.addData((1L, base))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart with a FRESH checkpoint dir: micro-batch ids restart at 0,
    // which already exists in the commit log from the first run. The r9
    // bare-batch-id protocol treated the new batch 0 as committed and
    // SILENTLY SKIPPED it (docs 2 and 5 never processed). Epoch scoping
    // must process it: 2 dropped as a near-dup of KEPT doc 1 (the state
    // survives the restart), 5 kept as novel.
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingOps.runMinhashDedupStream(
      in2.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt2")
    try {
      in2.addData((2L, near), (5L, other))
      q2.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 5L))
    } finally q2.stop()
    // epoch resolution is STABLE per checkpoint dir (a restart replays
    // under the same epoch, so the idempotent-replay protocol holds) and
    // FRESH (max committed + 1) for a new checkpoint over the same log
    val e1 = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt1", s"$out/kept")
    val e2 = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt2", s"$out/kept")
    assert(e1 != e2)
    assert(e2 == StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt2", s"$out/kept"))
    assert(StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt3", s"$out/kept")
      == math.max(e1, e2) + 1)
  }

  test("minhash ingest keeps docs too short to shingle without tripping state invariants") {
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val out = tmpDir("mhtiny")
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runMinhashDedupStream(
      input.toDS().toDF("doc_id", "text"),
      s"$out/state", s"$out/kept", s"$out/ckpt")
    try {
      // batch 1: a normal doc plus a 2-token doc (no shingles, no bands —
      // it must be KEPT, and must not append a shingles state row beside
      // an empty bands increment)
      input.addData((1L, base), (2L, "hi there"))
      q.processAllAvailable()
      // batch 2: ONLY a tiny doc — the whole-batch-kept fast path with
      // zero banded docs (state append must be a clean no-op)
      input.addData((3L, "ok"))
      q.processAllAvailable()
      // batch 3: state still works — a near-dup of kept doc 1 is caught
      input.addData((4L, near), (5L, "yo hey"))
      q.processAllAvailable()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 3L, 5L))
    } finally q.stop()
  }

  test("committed read views surface the sink schema when nothing is committed") {
    import spark.implicits._
    val out = tmpDir("ckzero")
    // uncommitted debris only (a crashed batch's directory, no marker):
    // the view must expose the schema with ZERO rows — downstream
    // .select("doc_id") used to throw on the schema-less emptyDataFrame
    Seq((1L, "x")).toDF("doc_id", "text")
      .write.parquet(s"$out/kept/batch_id=1")
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
    assert(kept.select("doc_id").count() == 0)
    // nothing on disk at all: no schema to surface, but still zero rows
    assert(StreamingOps.committedKept(spark, s"$out/kept_nothing").count() == 0)
  }

  test("legacy flat state changelog fails loudly at bootstrap instead of starting empty") {
    import spark.implicits._
    val out = tmpDir("mhlegacy")
    // pre-r9 layout: table content directly under state/<table>, not
    // batch_id=-versioned — the commit-filtered bootstrap cannot see it
    Seq((1L, "h", 0L)).toDF("doc_id", "band_key", "band")
      .write.parquet(s"$out/state/bands")
    val e = intercept[IllegalStateException] {
      new StreamingOps.KeyedStreamState(
        spark, s"$out/state", Seq("bands", "shingles"),
        new StreamingOps.CommitLog(spark, s"$out/kept").committed())
    }
    assert(e.getMessage.contains("legacy flat changelog"))
  }

  /** Drive a processor through (batchId, frame) pairs, crashing once at
    * every armed boundary before the committing attempt — each "crash"
    * kills the processor and "restarts" it via `fresh()` (a new instance =
    * checkpoint-recovery bootstrap from the commit log + state changelog),
    * then REPLAYS the same batch, exactly as a restarted stream would. */
  private def crashReplayDrive[P](
      batches: Seq[(Long, org.apache.spark.sql.DataFrame)],
      sites: Seq[String],
      fresh: (String => Unit) => P)(apply: (P, Long, org.apache.spark.sql.DataFrame) => Unit)(
      close: P => Unit): Unit = {
    var armed: Option[String] = None
    val fault: String => Unit = p => if (armed.contains(p)) {
      armed = None
      throw new RuntimeException(s"injected crash $p")
    }
    var proc = fresh(fault)
    batches.foreach { case (b, df) =>
      sites.foreach { site =>
        armed = Some(site)
        try { apply(proc, b, df); armed = None } catch {
          case e: RuntimeException if e.getMessage.startsWith("injected") =>
            close(proc)
            proc = fresh(fault)
        }
      }
      apply(proc, b, df) // converging replay (no-op if the marker landed)
    }
    close(proc)
  }

  test("minhash ingest is exactly-once: crash at every boundary, replay converges") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val nearOther = (100 to 138).map(i => s"v$i").mkString(" ") + " y1"
    val third = (200 to 240).map(i => s"u$i").mkString(" ")
    // in-batch loss (2→1), cross-batch dup-of-kept (3→1, 5→4), novelty (4, 6)
    val mkBatches = Seq(
      0L -> Seq((1L, base), (2L, near)),
      1L -> Seq((3L, near), (4L, other)),
      2L -> Seq((5L, nearOther), (6L, third)))
    def frames = mkBatches.map { case (b, rows) => (b, rows.toDF("doc_id", "text")) }
    val expected = Set(1L, 4L, 6L)
    val sites = Seq("after-kept", "after-state", "after-marker")

    // uncrashed reference run
    val ref = tmpDir("mhrefrun")
    val refProc = new StreamingOps.MinhashDedupProcessor(
      s"$ref/state", s"$ref/kept", 0.6)
    try frames.foreach { case (b, df) => refProc.apply(df, b) }
    finally refProc.close()
    val refKept = StreamingOps.committedKept(spark, s"$ref/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(refKept.toSet == expected)

    // crashed run: every boundary of every batch, restart + replay
    val out = tmpDir("mhcrash")
    crashReplayDrive[StreamingOps.MinhashDedupProcessor](
      frames, sites,
      fp => new StreamingOps.MinhashDedupProcessor(
        s"$out/state", s"$out/kept", 0.6, faultPoint = fp))(
      (p, b, df) => p.apply(df, b))(_.close())
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept.toSet == expected, s"crashed run diverged: $kept")
    assert(kept.length == kept.toSet.size, s"double-applied batch: $kept")

    // state converged too: a fresh processor (bootstrap from changelog)
    // must still catch a near-dup of each kept doc and admit novelty
    val p2 = new StreamingOps.MinhashDedupProcessor(
      s"$out/state", s"$out/kept", 0.6)
    try p2.apply(Seq((7L, near), (8L, nearOther),
      (9L, (300 to 340).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text"), 3L)
    finally p2.close()
    val kept2 = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == expected + 9L)
  }

  test("embedding ingest is exactly-once: crash at every boundary, replay converges") {
    import spark.implicits._
    val v1 = Array(1f, 2f, 3f, 4f, 0f, 0f, 0f, 0f)
    val v2 = v1.map(_ * 2.5f) // cosine 1.0 vs v1 — in-batch loser
    val v3 = Array(0f, 0f, 0f, 0f, 1f, 2f, 3f, 4f) // orthogonal — novel
    val v4 = Array(1.05f, 2.05f, 2.95f, 4.02f, 0.1f, 0f, 0f, 0f) // ~v1 — cross-batch dup
    val v5 = Array(1f, 0f, 1f, 0f, 1f, 0f, 1f, 0f) // novel direction
    val mkBatches = Seq(
      0L -> Seq((1L, v1), (2L, v2)),
      1L -> Seq((3L, v3), (4L, v4)),
      2L -> Seq((5L, v5)))
    def frames = mkBatches.map { case (b, rows) => (b, rows.toDF("vec_id", "embedding")) }
    val expected = Set(1L, 3L, 5L)
    val sites = Seq("after-kept", "after-state", "after-marker")

    val ref = tmpDir("embrefrun")
    val refProc = new StreamingOps.EmbDedupProcessor(
      s"$ref/state", s"$ref/kept", 0.8, 32, 8, 42L)
    try frames.foreach { case (b, df) => refProc.apply(df, b) }
    finally refProc.close()
    assert(StreamingOps.committedKept(spark, s"$ref/kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet == expected)

    val out = tmpDir("embcrash")
    crashReplayDrive[StreamingOps.EmbDedupProcessor](
      frames, sites,
      fp => new StreamingOps.EmbDedupProcessor(
        s"$out/state", s"$out/kept", 0.8, 32, 8, 42L, faultPoint = fp))(
      (p, b, df) => p.apply(df, b))(_.close())
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(kept.toSet == expected, s"crashed run diverged: $kept")
    assert(kept.length == kept.toSet.size, s"double-applied batch: $kept")

    // bootstrap-convergence probe: near-dup of kept 1 dropped, novelty kept
    val p2 = new StreamingOps.EmbDedupProcessor(
      s"$out/state", s"$out/kept", 0.8, 32, 8, 42L)
    try p2.apply(Seq((6L, v4), (7L, Array(0f, 1f, 0f, -1f, 0f, 1f, 0f, -1f)))
      .toDF("vec_id", "embedding"), 3L)
    finally p2.close()
    assert(StreamingOps.committedKept(spark, s"$out/kept")
      .select("vec_id").collect().map(_.getLong(0)).toSet == expected + 7L)
  }

  test("media ingest is exactly-once: crash at every boundary, replay converges") {
    import spark.implicits._
    import graft.functions.MediaBytes
    val rnd = new scala.util.Random(13)
    def payload() = Array.fill(400)((32 + rnd.nextInt(95)).toByte)
    val p1 = payload()
    val p4 = payload()
    val p6 = payload()
    // blob 2: same payload as 1 in a DIFFERENT container — in-batch
    // loser (the hash sees through the format); blob 3: trailing-append
    // near-dup of 1 — cross-batch dup-of-kept; blob 5: near-dup of 4
    val mkBatches = Seq(
      0L -> Seq((1L, MediaBytes.png(33, 44, p1)), (2L, MediaBytes.wav(p1))),
      1L -> Seq((3L, MediaBytes.bmp(33, 44, p1 ++ " dup".getBytes("UTF-8"))),
        (4L, MediaBytes.wav(p4))),
      2L -> Seq((5L, MediaBytes.png(33, 44, p4 ++ " x".getBytes("UTF-8"))),
        (6L, MediaBytes.bmp(33, 44, p6))))
    def frames = mkBatches.map { case (b, rows) => (b, rows.toDF("doc_id", "blob")) }
    val expected = Set(1L, 4L, 6L)
    val sites = Seq("after-kept", "after-state", "after-marker")

    val ref = tmpDir("mediarefrun")
    val refProc = new StreamingOps.MediaDedupProcessor(
      s"$ref/state", s"$ref/kept", 2)
    try frames.foreach { case (b, df) => refProc.apply(df, b) }
    finally refProc.close()
    assert(StreamingOps.committedKept(spark, s"$ref/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet == expected)

    val out = tmpDir("mediacrash")
    crashReplayDrive[StreamingOps.MediaDedupProcessor](
      frames, sites,
      fp => new StreamingOps.MediaDedupProcessor(
        s"$out/state", s"$out/kept", 2, faultPoint = fp))(
      (p, b, df) => p.apply(df, b))(_.close())
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(kept.toSet == expected, s"crashed run diverged: $kept")
    assert(kept.length == kept.toSet.size, s"double-applied batch: $kept")

    // bootstrap-convergence probe: a near-dup of kept 6 is dropped by a
    // FRESH processor over the same state; a novel blob is kept
    val p2 = new StreamingOps.MediaDedupProcessor(s"$out/state", s"$out/kept", 2)
    try p2.apply(Seq(
      (7L, MediaBytes.wav(p6 ++ " y".getBytes("UTF-8"))),
      (8L, MediaBytes.png(33, 44, payload()))).toDF("doc_id", "blob"), 3L)
    finally p2.close()
    assert(StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet == expected + 8L)
  }

  /** One novel doc per batch — every batch kept, every append non-empty,
    * so CompactEvery appends deterministically trigger disk compaction. */
  private def novelDocBatches(n: Int): Seq[(Long, org.apache.spark.sql.DataFrame)] =
    (0 until n).map { i =>
      val text = (i * 100 to i * 100 + 12).map(w => s"w$w").mkString(" ")
      (i.toLong, Seq((i + 1L, text)).toDF("doc_id", "text"))
    }

  private def stateDirNames(root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
  }

  test("state changelog compacts on disk to snapshot + bounded tail; snapshot carries early state") {
    import StreamingOps.KeyedStreamState.{CompactEvery, SnapPrefix}
    val out = tmpDir("mhcompact")
    val n = CompactEvery + 2 // one compaction, then a short tail
    val p = new StreamingOps.MinhashDedupProcessor(s"$out/state", s"$out/kept", 0.6)
    try novelDocBatches(n).foreach { case (b, df) => p.apply(df, b) }
    finally p.close()
    for (t <- Seq("bands", "shingles")) {
      val names = stateDirNames(s"$out/state/$t")
      val snaps = names.filter(_.startsWith(SnapPrefix))
      assert(snaps.size == 1, s"$t: expected one snapshot, got $names")
      val upTo = snaps.head.stripPrefix(SnapPrefix).toLong
      val tail = names.filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
      assert(tail.forall(_ > upTo), s"$t: superseded dirs not cleaned: $names")
      assert(tail.size <= CompactEvery, s"$t: unbounded tail: $names")
    }
    // the snapshot (not the deleted batch_id= dirs) must carry batch 0's
    // state: a fresh processor bootstraps from it and still drops a
    // near-dup of the FIRST kept doc while admitting novelty
    val nearFirst = (0 to 10).map(w => s"w$w").mkString(" ") + " zz"
    val novel = (900 to 912).map(w => s"q$w").mkString(" ")
    val p2 = new StreamingOps.MinhashDedupProcessor(s"$out/state", s"$out/kept", 0.6)
    try p2.apply(Seq((50L, nearFirst), (51L, novel)).toDF("doc_id", "text"), n.toLong)
    finally p2.close()
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1 to n).map(_.toLong).toSet + 51L, s"got $kept")
  }

  test("crash mid-compaction: partial snapshot bootstraps without double-count, next compact self-heals") {
    import StreamingOps.KeyedStreamState.{CompactEvery, SnapPrefix}
    // uncrashed reference state size for the no-double-count assertion
    val ref = tmpDir("mhcompref")
    val refP = new StreamingOps.MinhashDedupProcessor(s"$ref/state", s"$ref/kept", 0.6)
    try novelDocBatches(CompactEvery + 1).foreach { case (b, df) => refP.apply(df, b) }
    finally refP.close()
    val refBands = {
      val ids = new StreamingOps.CommitLog(spark, s"$ref/kept").committed()
      val st = new StreamingOps.KeyedStreamState(spark, s"$ref/state",
        Seq("bands", "shingles"), ids)
      try st.table("bands").count() finally st.close()
    }

    for (site <- Seq("compact-after-snap:bands", "compact-after-snapshots")) {
      val out = tmpDir("mhcompcrash")
      var armed: Option[String] = Some(site)
      val fault: String => Unit = s => if (armed.contains(s)) {
        armed = None; throw new RuntimeException(s"injected crash $s")
      }
      val batches = novelDocBatches(CompactEvery + 1)
      val p = new StreamingOps.MinhashDedupProcessor(
        s"$out/state", s"$out/kept", 0.6, faultPoint = fault)
      // the final batch's append triggers compaction, which crashes at
      // `site`, leaving a renamed snapshot AND its superseded batch dirs
      try {
        intercept[RuntimeException] {
          batches.foreach { case (b, df) => p.apply(df, b) }
        }
      } finally p.close()
      // restart + replay of the crashed batch converges
      val p2 = new StreamingOps.MinhashDedupProcessor(s"$out/state", s"$out/kept", 0.6)
      try p2.apply(batches.last._2, batches.last._1) finally p2.close()
      val kept = StreamingOps.committedKept(spark, s"$out/kept")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == (1 to CompactEvery + 1).map(_.toLong).toSet,
        s"$site: kept diverged: $kept")
      // bootstrap must read snapshot + tail only — surviving superseded
      // batch_id= dirs (cleanup never ran) are invisible, not doubled
      val ids = new StreamingOps.CommitLog(spark, s"$out/kept").committed()
      val st = new StreamingOps.KeyedStreamState(spark, s"$out/state",
        Seq("bands", "shingles"), ids)
      val (bandCount, bandDistinct) =
        try (st.table("bands").count(),
          st.table("bands").distinct().count())
        finally st.close()
      assert(bandCount == refBands,
        s"$site: state rows $bandCount != uncrashed $refBands (double-count?)")
      assert(bandCount == bandDistinct, s"$site: duplicate state rows")
      if (site == "compact-after-snapshots") {
        // stale dirs left by the crash die on the NEXT compaction
        val more = (0 to CompactEvery).map { i =>
          val text = (5000 + i * 100 to 5000 + i * 100 + 12)
            .map(w => s"m$w").mkString(" ")
          (CompactEvery + 1L + i, Seq((100L + i, text)).toDF("doc_id", "text"))
        }
        val p3 = new StreamingOps.MinhashDedupProcessor(s"$out/state", s"$out/kept", 0.6)
        try more.foreach { case (b, df) => p3.apply(df, b) }
        finally p3.close()
        for (t <- Seq("bands", "shingles")) {
          val names = stateDirNames(s"$out/state/$t")
          val snaps = names.filter(_.startsWith(SnapPrefix))
          assert(snaps.size == 1, s"$t after heal: $names")
          val upTo = snaps.head.stripPrefix(SnapPrefix).toLong
          assert(names.filter(_.startsWith("batch_id="))
            .map(_.stripPrefix("batch_id=").toLong).forall(_ > upTo),
            s"$t: stale dirs survived the healing compact: $names")
        }
      }
    }
  }

  test("commit markers roll up into per-epoch watermarks: bounded count AND bytes, exact sums, debris tolerated") {
    import StreamingOps.CommitLog.RollupPrefix
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    val root = tmpDir("commitroll")
    val log = new StreamingOps.CommitLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(s"$root/_commits")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/_commits"))
        .filter(_.isFile).map(_.getPath.getName).toSeq
    def rollupBytes: Long = files.filter(_.startsWith(RollupPrefix))
      .map(n => fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"$root/_commits/$n")).getLen).sum
    def deltasOf(id: Long) = Array(id * 10, id + 1)
    // sums over 0..upTo must be exact whatever the watermark/tail split
    def assertExact(upTo: Long): Unit = {
      val got = log.committed()
      (0L to upTo).foreach(id => assert(got.contains(id), s"id $id lost"))
      assert(!got.contains(upTo + 1))
      assert(got.maxId == upTo)
      val want = (0L to upTo).map(deltasOf)
        .foldLeft(Array.empty[Long])(StreamingOps.CommitLog.addDeltas)
      assert(got.deltaSums.sameElements(want),
        s"sums ${got.deltaSums.mkString(",")} != ${want.mkString(",")}")
    }

    (0L until 2L * keep).foreach(id => log.commit(id, deltasOf(id)))
    log.compact(keep) // 16 markers >= 2*keepTail: absorb all but the tail
    assert(files.count(_.startsWith(RollupPrefix)) == 1)
    assert(files.size == keep + 1, s"unbounded _commits: $files")
    assertExact(2L * keep - 1)
    val bytesAfterFirst = rollupBytes

    // crash debris: an absorbed marker whose file survived the cleanup —
    // watermark-covered, so invisible (sums NOT double-counted), then
    // deleted by the next compaction
    log.commit(0L, deltasOf(0L))
    assertExact(2L * keep - 1)
    ((2L * keep) until (3L * keep - 1)).foreach(id => log.commit(id, deltasOf(id)))
    log.compact(keep) // tail back at 2*keepTail: debris absorbed + deleted
    assert(!files.contains("0"), s"debris marker survived: $files")
    assert(files.size == keep + 1, s"unbounded _commits: $files")
    assertExact(3L * keep - 2)
    // one epoch = one watermark line: bytes must NOT grow with batches
    // (modulo the sums' digit count), unlike the absorbed batch count
    assert(rollupBytes <= bytesAfterFirst + 8,
      s"roll-up bytes grew with batch count: $bytesAfterFirst -> $rollupBytes")

    // epoch resolution reads THROUGH the roll-up: a fresh checkpoint over
    // this log must claim an epoch above every rolled-up id's epoch
    val epoch = StreamingOps.CommitLog.resolveEpoch(
      spark, tmpDir("commitrollckpt"), root)
    assert(epoch == 1L, s"expected epoch 1 over epoch-0 roll-up, got $epoch")
  }

  test("legacy exact-entry roll-up is read as tail and folded to watermarks by the next compact") {
    import StreamingOps.CommitLog.RollupPrefix
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    val root = tmpDir("commitrolllegacy")
    val dir = new org.apache.hadoop.fs.Path(s"$root/_commits")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // the pre-watermark roll-up format: exact `id:deltas` lines, named by
    // max absorbed id
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, s"${RollupPrefix}3"), true)
    try out.write((0L to 3L).map(id => s"$id:${id * 10},${id + 1}")
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val log = new StreamingOps.CommitLog(spark, root)
    val before = log.committed()
    assert((0L to 3L).forall(before.contains) && before.maxId == 3L)
    assert(before.deltaSums.sameElements(Array(60L, 10L)))
    // grow a marker tail past the hysteresis and compact: the legacy
    // entries must fold into the epoch-0 watermark, sums unchanged
    (4L until 4L + 2L * keep).foreach(id => log.commit(id, Array(id * 10, id + 1)))
    log.compact(keep)
    val after = log.committed()
    assert(after.wm.contains(0L), s"legacy entries not folded: ${after.wm}")
    assert((0L until 4L + 2L * keep).forall(after.contains))
    val want = (0L until 4L + 2L * keep).map(id => Array(id * 10, id + 1))
      .foldLeft(Array.empty[Long])(StreamingOps.CommitLog.addDeltas)
    assert(after.deltaSums.sameElements(want))
    // the legacy roll-up is superseded by a higher generation and deleted
    val rolls = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith(RollupPrefix)).toSeq
    assert(rolls == Seq(s"${RollupPrefix}4"), s"roll-ups: $rolls")
  }

  test("output compaction bin-packs committed batch dirs into per-epoch ranges; view identical; debris self-heals") {
    import spark.implicits._
    import StreamingOps.CommitLog
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    val root = tmpDir("outcompact")
    val log = new StreamingOps.CommitLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirNames: Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
    def view: Set[(Long, String)] = StreamingOps.committedKept(spark, root)
      .as[(Long, String)].collect().toSet
    // two epochs, each with keep+2 committed batches: the absorb set
    // spans both, so compaction must seal one range PER EPOCH, never
    // across (a resumed old-epoch checkpoint commits between its own
    // epoch's ids — a cross-epoch range would straddle them)
    val ids = (0L until (keep + 2L)).map(CommitLog.pack(0, _)) ++
      (0L until (keep + 2L)).map(CommitLog.pack(1, _))
    ids.foreach { id =>
      Seq((id, s"doc$id")).toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$root/batch_id=$id")
      log.commit(id, Array(1L))
    }
    // plus uncommitted debris above epoch 1's committed max: never
    // absorbed, never visible
    val debrisId = CommitLog.pack(1, keep + 2L)
    Seq((999L, "debris")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/batch_id=$debrisId")
    val before = view
    assert(before.size == ids.size)
    def isCommitted: Long => Boolean = { val c = log.committed(); c.contains }

    StreamingOps.compactOutput(spark, root, isCommitted, keep)
    val ranges = dirNames.filter(_.startsWith("range="))
    assert(ranges.size == 2, s"expected one range per epoch: $dirNames")
    ranges.foreach { r =>
      val Array(lo, hi) = r.stripPrefix("range=").split('-').map(_.toLong)
      assert((lo >>> CommitLog.BatchBits) == (hi >>> CommitLog.BatchBits),
        s"range spans epochs: $r")
    }
    // absorbed dirs deleted; keep-tail + the inert debris dir remain
    val tailDirs = dirNames.filter(_.startsWith("batch_id="))
    assert(tailDirs.size == keep + 1, s"tail not bounded: $tailDirs")
    assert(tailDirs.contains(s"batch_id=$debrisId"))
    assert(view == before, "committed view changed under compaction")

    // crash debris: an absorbed dir recreated with garbage is covered by
    // a range — invisible to the view — and the next pass deletes it
    val victim = ids.head
    Seq((victim, "GARBAGE")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/batch_id=$victim")
    assert(view == before, "covered debris leaked into the view")
    StreamingOps.compactOutput(spark, root, isCommitted, keep)
    assert(!dirNames.contains(s"batch_id=$victim"), "covered debris survived")
    assert(view == before)
  }

  test("pre-epoch checkpoint (offsets, no _graft_epoch) continues under epoch 0") {
    val out = tmpDir("legacyepoch")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a commit log written by the pre-epoch protocol: bare epoch-0 ids
    val log = new StreamingOps.CommitLog(spark, s"$out/kept")
    (0L to 3L).foreach(id => log.commit(id, Array(1L)))
    // a checkpoint with Spark stream state but no _graft_epoch marker
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$out/ckpt/offsets"))
    val e = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt", s"$out/kept")
    assert(e == 0L, s"legacy checkpoint re-epoched to $e — its replayed " +
      "batches would miss their committed markers and reprocess")
    // persisted: stable on re-resolution
    assert(StreamingOps.CommitLog.resolveEpoch(
      spark, s"$out/ckpt", s"$out/kept") == 0L)
    // a genuinely fresh checkpoint still claims a new epoch
    assert(StreamingOps.CommitLog.resolveEpoch(
      spark, s"$out/ckpt2", s"$out/kept") == 1L)
  }

  test("epoch file publishes by rename; a torn/corrupt file fails loudly") {
    val out = tmpDir("tornepoch")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a claim leaves no tmp debris and the published file round-trips
    val e = StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt", s"$out/kept")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$out/ckpt/.tmp_graft_epoch")), "tmp file left behind after publish")
    assert(StreamingOps.CommitLog.resolveEpoch(
      spark, s"$out/ckpt", s"$out/kept") == e)
    // a corrupt epoch file (empty, or a truncated decimal that would
    // silently parse SMALLER and collide with committed ids) must fail
    // with an actionable message, never be guessed around
    for (content <- Seq("", "12x")) {
      val p = new org.apache.hadoop.fs.Path(s"$out/ckpt2/_graft_epoch")
      fs.mkdirs(p.getParent)
      val o = fs.create(p, true)
      try o.write(content.getBytes("UTF-8")) finally o.close()
      val ex = intercept[IllegalStateException] {
        StreamingOps.CommitLog.resolveEpoch(spark, s"$out/ckpt2", s"$out/kept")
      }
      assert(ex.getMessage.contains("delete the file"), ex.getMessage)
    }
  }

  test("stale epoch-claim tmp orphans are reaped on resolve; a fresh " +
      "in-flight tmp is left alone") {
    val out = tmpDir("tmporphan")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ck = s"$out/ckpt"
    fs.mkdirs(new org.apache.hadoop.fs.Path(ck))
    // a crash between create and rename left this behind two minutes ago
    val stale = new org.apache.hadoop.fs.Path(s"$ck/.tmp_graft_epoch_stale")
    fs.create(stale, true).close()
    fs.setTimes(stale, System.currentTimeMillis() - 120000L, -1)
    // a CONCURRENT resolver's tmp is seconds old — must survive the reap
    // (deleting it would fail that resolver's rename while the epoch
    // file is still unpublished)
    val fresh = new org.apache.hadoop.fs.Path(s"$ck/.tmp_graft_epoch_fresh")
    fs.create(fresh, true).close()
    val e = StreamingOps.CommitLog.resolveEpoch(spark, ck, s"$out/kept")
    assert(!fs.exists(stale), "stale orphan survived the reap")
    assert(fs.exists(fresh), "live in-flight tmp was reaped")
    // the published claim is stable on re-resolution
    assert(StreamingOps.CommitLog.resolveEpoch(spark, ck, s"$out/kept") == e)
  }

  test("zero-row (footerless) committed batch dirs: views stay readable, compaction skips them") {
    import spark.implicits._
    val root = tmpDir("footerless")
    val log = new StreamingOps.CommitLog(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // batch 0 committed but wrote only _SUCCESS (a zero-row batch)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/batch_id=0"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$root/batch_id=0/_SUCCESS"), true).close()
    log.commit(0L, Array(0L))
    // only the footerless dir: the view must return zero rows, not throw
    assert(StreamingOps.committedKept(spark, root).count() == 0)
    Seq((1L, "a")).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$root/batch_id=1")
    log.commit(1L, Array(1L))
    assert(StreamingOps.committedKept(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // compaction over a group containing the footerless dir must not
    // poison schema inference — and deletes it (zero rows by construction)
    val keep = StreamingOps.KeyedStreamState.CompactEvery
    (2L until 2L + 2L * keep).foreach { id =>
      Seq((id, s"d$id")).toDF("doc_id", "text").coalesce(1)
        .write.parquet(s"$root/batch_id=$id")
      log.commit(id, Array(1L))
    }
    val c = log.committed()
    StreamingOps.compactOutput(spark, root, c.contains _, keep)
    val names = stateDirNames(root)
    assert(names.exists(_.startsWith("range=")), s"no range: $names")
    assert(!names.contains("batch_id=0"), s"footerless dir survived: $names")
    assert(StreamingOps.committedKept(spark, root).select("doc_id")
      .collect().map(_.getLong(0)).toSet == (1L until 2L + 2L * keep).toSet)
  }

  test("ingest stream long enough to trigger output compaction: ranges appear, kept set unchanged") {
    import StreamingOps.KeyedStreamState.CompactEvery
    val out = tmpDir("mhoutcompact")
    val n = 2 * CompactEvery + 1 // crosses the 2×-tail hysteresis once
    val p = new StreamingOps.MinhashDedupProcessor(s"$out/state", s"$out/kept", 0.6)
    try novelDocBatches(n).foreach { case (b, df) => p.apply(df, b) }
    finally p.close()
    val kept = StreamingOps.committedKept(spark, s"$out/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (1 to n).map(_.toLong).toSet, s"kept diverged: $kept")
    val names = stateDirNames(s"$out/kept")
    assert(names.exists(_.startsWith("range=")),
      s"no range dir after $n batches: $names")
    assert(names.count(_.startsWith("batch_id=")) <= CompactEvery + 1,
      s"batch-dir tail not bounded: $names")
  }

  test("taxi sink under a new epoch processes restarted batch ids, keeps cross-epoch state") {
    import spark.implicits._
    val colIdx = graft.etl.CsvSource.RequiredColumns.zipWithIndex.toMap
    val config = graft.etl.EtlConfig(inputCsvPath = "",
      duplicatesCsvPath = "", insertedPath = "")
    val lineA = "01/01/2020 12:28:15 AM,01/01/2020 12:33:03 AM,1,1.2,N,238,239,6,1.47"
    val lineB = "01/02/2020 01:00:00 AM,01/02/2020 01:10:00 AM,2,3.4,Y,10,20,30,4"
    def annotate(lines: Seq[String]) = StreamingOps.annotateTaxiLines(
      lines.zipWithIndex.map { case (l, i) => (i + 1L, l) }
        .toDF("line_number", "value"), config, colIdx)
    val out = tmpDir("taxiepoch")
    val (trips, dups, seen) = (s"$out/trips", s"$out/duplicates", s"$out/seen_keys")
    // epoch 1 (first stream start): batch 0 inserts lineA's trip
    val c1 = new StreamingOps.TaxiStreamCounters
    StreamingOps.taxiStreamBatchProcessor(trips, dups, seen, c1, epoch = 1L)(
      annotate(Seq(lineA)), 0L)
    // epoch 2 (checkpoint lost — batch ids restart at 0): the batch MUST
    // be processed (bare-batch-id logs would silently skip it), lineB
    // inserted, and lineA recognized as a duplicate of the EPOCH-1 kept
    // key via the cross-epoch committed seen-keys state
    val c2 = new StreamingOps.TaxiStreamCounters
    StreamingOps.taxiStreamBatchProcessor(trips, dups, seen, c2, epoch = 2L)(
      annotate(Seq(lineB, lineA)), 0L)
    assert(c2.snapshot == graft.etl.Stats.EtlStats(
      total = 3, parsed = 3, invalid = 0, duplicates = 1, inserted = 2,
      duplicatesFileRows = 1))
    assert(StreamingOps.committedTrips(spark, trips).count() == 2)
    val dupCsv = spark.read.option("header", "true").csv(dups)
    assert(dupCsv.count() == 1)
  }

  test("stream-static enrichment joins the dimension without shuffling the stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]
    val dim = Seq(("a", "Alpha"), ("b", "Beta")).toDF("k", "name")
    val enriched = StreamingOps.enrichStream(input.toDS().toDF("k", "v"), dim, "k")
    val q = enriched.writeStream.format("memory")
      .queryName("enrich_out").outputMode(OutputMode.Append()).start()
    try {
      input.addData(("a", 1), ("c", 2))
      q.processAllAvailable()
      val out = spark.table("enrich_out").as[(String, Int, String)]
        .collect().sortBy(_._1)
      assert(out.toSeq == Seq(("a", 1, "Alpha"), ("c", 2, null)))
      assert(q.lastProgress == null ||
        !spark.table("enrich_out").queryExecution.executedPlan.toString
          .contains("CartesianProduct"))
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to clicks across batches") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamingOps.intervalJoinStreams(
      clicks.toDS().toDF("user_id", "click_ts", "click_id"),
      purchases.toDS().toDF("user_id", "purchase_ts", "amount"))
    val q = joined.writeStream.format("memory")
      .queryName("ssj_out").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two clicks, one same-batch purchase for u1
      clicks.addData((1L, ts("2024-01-01 10:00:00"), "c1"),
        (2L, ts("2024-01-01 10:00:00"), "c2"))
      purchases.addData((1L, ts("2024-01-01 10:05:00"), 50.0))
      q.processAllAvailable()
      // batch 2: u2's purchase arrives a batch LATE (click held in state);
      // u1's second purchase is past the 10-minute horizon — no match
      purchases.addData((2L, ts("2024-01-01 10:08:00"), 30.0),
        (1L, ts("2024-01-01 10:20:00"), 99.0))
      q.processAllAvailable()
      val out = spark.table("ssj_out")
        .select("click_id", "user_id", "amount").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(out == Set(("c1", 1L, 50.0), ("c2", 2L, 30.0)))
    } finally q.stop()
  }

  test("trending tokens: windows finalize once at watermark close, exact top-k") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    val q = StreamingOps.runTrendingTokens(
      input.toDS().toDF("ts", "token"), "10 minutes", "5 minutes", k = 2) {
      batch =>
        got ++= batch.collect().map(r => (
          r.getStruct(0).getTimestamp(0).toString, r.getString(1),
          r.getLong(2), r.getLong(3)))
    }
    try {
      // window [10:00, 10:10): a x3, b x1, c x2
      input.addData(
        (ts("2024-01-01 10:01:00"), "a"), (ts("2024-01-01 10:02:00"), "a"),
        (ts("2024-01-01 10:03:00"), "b"), (ts("2024-01-01 10:04:00"), "c"),
        (ts("2024-01-01 10:05:00"), "c"), (ts("2024-01-01 10:06:00"), "a"))
      q.processAllAvailable()
      // nothing finalized yet — watermark has not passed 10:10
      assert(got.isEmpty)
      // advance event time past 10:10 + 5 min lateness -> window closes
      input.addData((ts("2024-01-01 10:16:00"), "z"))
      q.processAllAvailable()
      val w1 = got.filter(_._1.startsWith("2024-01-01 10:00")).toSeq
      // top-2 of {a:3, c:2, b:1} with count-desc/token tie-break
      assert(w1.map(r => (r._2, r._3, r._4)).sorted ===
        Seq(("a", 3L, 1L), ("c", 2L, 2L)))
      assert(got.size === w1.size, s"unfinalized windows leaked: $got")
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-key stats across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val stats = StreamingOps.runningStats(input.toDS())
    val q = stats.writeStream.format("memory")
      .queryName("stats_out").outputMode(OutputMode.Update()).start()
    try {
      input.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      q.processAllAvailable()
      input.addData(("a", 3.0))
      q.processAllAvailable()
      val latest = spark.table("stats_out")
        .as[StreamingOps.KeyedCount].collect()
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n) }
      assert(latest("a").n == 3 && latest("a").total == 6.0)
      assert(latest("b").n == 1 && latest("b").total == 10.0)
    } finally q.stop()
  }
}
