package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftBenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.etl.{CsvSource, EtlConfig, Normalize, ParseValidate, Pipeline, Sinks, Stats}
import graft.streaming.StreamingOps

/** One benchmark run of one workload, in one JVM, driven from outside
  * the program: it calls the public functions of the `graft` modules,
  * materializes every output with a real sink, and writes raw timings,
  * spans and engine counters as JSON for `perfbench/run.py`, which
  * checks the outputs and turns the raw numbers into metrics.
  *
  * Usage: graftbench.Main <workload> <seconds> <trace 0|1> <dataDir>
  *        <workDir> <result.json> <seed> <units>
  *
  * `units` is the fixed number of measured units of work (ETL jobs,
  * stream runs, query rounds); `seconds` is only a floor on the run's
  * length and never changes what is measured.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, trace, dataDir, workDir, result, seed, units) = args
    new Main(workload, seconds.toDouble, trace == "1", dataDir, workDir, seed.toLong,
      units.toInt).run(result)
  }

  /** etl_stream feeds the file in this many micro-batches. */
  val StreamBatches = 3

  /** query_mix's registered rows, with the module each one lives in: a
    * fixed sample of every family (aggregate, top-k, correlated subquery,
    * broadcast / shuffle / anti joins, running window; sessions, as-of
    * join; graph triangles; compaction plan). */
  val QueryRows: Seq[(String, String)] =
    Seq("q1_agg", "q2_topk_price", "q9_correlated", "j1_join_broadcast", "j2_join_shuffle",
      "j3_join_anti", "w1_running_sum").map(_ -> "queries.CoreQueries") ++
    Seq("sessionize", "asof_join").map(_ -> "ext.TemporalOps") ++
    Seq("triangles" -> "ext.GraphOps", "compaction_plan" -> "plans.Layouts")
}

final class Main(workload: String, seconds: Double, trace: Boolean,
    dataDir: String, workDir: String, seed: Long, units: Int) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors
  private val collector = new Collector
  private val tracer = new Tracer(collector)
  private var spark: SparkSession = _
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def out(name: String): String = s"$workDir/out/$name"
  private def csv: String = s"$dataDir/taxi.csv"

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(collector)
    s.listenerManager.register(collector)
    s
  }

  private def use(s: SparkSession): Unit = { spark = s; tracer.spark = s }

  def run(resultPath: String): Unit = {
    // set-up: process start until the session is ready and warm
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    use(session())
    prepare()
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val probe = epochProbe()

    // a unit of work untraced, and the same unit paired with its traced copy
    val (plain, measured): (Int => Unit, Int => Unit) = workload match {
      case "etl_batch" => (etlRun, k => pair(k)(etlRun(k), etlTraced(k)))
      case "etl_stream" => (streamPlain, k => pair(k)(streamPlain(k), streamTraced(k)))
      case "query_mix" => (queryRound(_, paired = false), queryRound(_, paired = true))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    GraftBenchBus.drain(spark.sparkContext)
    collector.reset()
    val heap = new HeapSampler
    heap.start()
    val tw = System.nanoTime()
    // a fixed number of units, so every run measures the same samples
    (0 until units).foreach(measured)
    val window = secs(tw)
    GraftBenchBus.drain(spark.sparkContext)
    val totals = collector.total
    val measuredOps = ops.size
    val heapPeak = heap.finish()
    // `seconds` is a floor on the run: further units, untraced and left
    // out of every metric (their outputs are still checked), until it
    // has passed
    var k = units
    while (secs(tw) < seconds) { plain(k); k += 1 }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "setup_s" -> setup, "epoch_probe_s" -> probe, "window_s" -> window,
      "units" -> units, "measured_ops" -> measuredOps, "ops" -> ops.toSeq,
      "spans" -> tracer.toJson, "totals" -> totals.toJson,
      "storage_peak_mb" -> collector.peakStorageBytes / 1048576.0,
      "heap_peak_mb" -> heapPeak,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (row, _) =>
        QueryRows.exists(_._1 == row) })
    spark.stop()
    Files.write(Paths.get(resultPath),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(result))
  }

  /** A fixed CPU-bound loop, recorded as the machine's speed stamp. */
  private def epochProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 0.0
    var i = 0
    while (i < 100000000) { x += math.sqrt(i.toDouble); i += 1 }
    if (x == 0.5) println(x)
    secs(t0)
  }

  /** Workload set-up, part of `setup_s`: read the inputs a client would
    * hold, and warm the process with unmeasured operations (etl_batch: one
    * job; etl_stream: a two-batch stream; query_mix: one pass over every
    * row). */
  private def prepare(): Unit = {
    workload match {
      case "etl_batch" => Pipeline.run(spark, etlConfig(out("warm")))
      case "etl_stream" =>
        streamLines = readStreamLines()
        streamRun(out("warm"), traced = false, streamLines.take(streamLines.length / 2))
      case "query_mix" =>
        QueryRows.foreach { case (row, module) =>
          ops += call(row, s"$module.$row", out(s"warm/$row"), "warm")
        }
      case _ =>
    }
    ops.clear()
  }

  /** Materialize a frame with the real sink: one parquet directory. */
  private def sink(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Materialize with Spark's no-op sink (prefix cuts). */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One public call through the registered row: construct the frame
    * (including any eager actions inside the function), then execute it
    * into the real sink. A throw is recorded, never timed. */
  private def call(row: String, layer: String, path: String, kind: String): Map[String, Any] = {
    val fn = SparkEntry.queries(row)
    var construct, execute = 0.0
    try {
      tracer.span(layer) {
        val t0 = System.nanoTime()
        val df = tracer.span("query.construct")(fn(spark, dataDir))
        construct = secs(t0)
        val t1 = System.nanoTime()
        tracer.span("query.execute")(sink(df, path))
        execute = secs(t1)
      }
      Map("kind" -> kind, "row" -> row, "layer" -> layer, "out" -> path,
        "traced" -> tracer.active, "construct_s" -> construct, "execute_s" -> execute,
        "secs" -> (construct + execute))
    } catch {
      case NonFatal(e) =>
        Map("kind" -> kind, "row" -> row, "layer" -> layer, "traced" -> tracer.active,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }

  // ---- etl_batch ---------------------------------------------------------

  private def etlConfig(dir: String): EtlConfig =
    EtlConfig(inputCsvPath = csv, duplicatesCsvPath = s"$dir/duplicates",
      insertedPath = s"$dir/trips")

  private def statsMap(s: Stats.EtlStats): Map[String, Any] = Map(
    "total" -> s.total, "parsed" -> s.parsed, "invalid" -> s.invalid,
    "duplicates" -> s.duplicates, "inserted" -> s.inserted,
    "duplicatesFile" -> s.duplicatesFileRows)

  /** A traced run alternates which of the untraced and traced op goes
    * first, so neither always meets the other's warm state. */
  private def pair(k: Int)(untraced: => Unit, traced: => Unit): Unit =
    if (!trace) untraced
    else if (k % 2 == 0) { untraced; traced }
    else { traced; untraced }

  private def etlRun(k: Int): Unit = {
    val cfg = etlConfig(out(s"etl_$k"))
    val t0 = System.nanoTime()
    val stats = Pipeline.run(spark, cfg)
    ops += etlRecord(cfg, stats, secs(t0), traced = false)
  }

  private def etlRecord(cfg: EtlConfig, s: Stats.EtlStats, t: Double, traced: Boolean) =
    Map("kind" -> "etl", "secs" -> t, "traced" -> traced, "counters" -> statsMap(s),
      "trips" -> cfg.insertedPath, "duplicates" -> cfg.duplicatesCsvPath)

  /** Pipeline.run decomposed into its public calls, each a span, then
    * the prefix cuts. */
  private def etlTraced(k: Int): Unit = {
    val cfg = etlConfig(out(s"etl_${k}_traced"))
    tracer.active = true
    try {
      val t0 = System.nanoTime()
      val stats = tracer.span("etl.Pipeline.run") {
        val annotated = tracer.span("etl.Pipeline.annotate")(Pipeline.annotate(spark, cfg))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          tracer.span("etl.Sinks.writeInserted")(Sinks.writeInserted(annotated, cfg.insertedPath))
          tracer.span("etl.Sinks.writeDuplicates")(
            Sinks.writeDuplicates(annotated, cfg.duplicatesCsvPath))
          tracer.span("etl.Stats.compute")(Stats.compute(annotated))
        } finally annotated.unpersist()
      }
      ops += etlRecord(cfg, stats, secs(t0), traced = true)
      prefixCuts()
    } finally tracer.active = false
  }

  /** The read / +parse / +normalize / +dedup prefixes of the ETL over the
    * input CSV, each materialized alone, so every etl layer gets a self
    * time by difference. */
  private def prefixCuts(): Unit = {
    tracer.span("cut.read")(noop(CsvSource.read(spark, csv)))
    tracer.span("cut.parse")(noop(ParseValidate.parse(CsvSource.read(spark, csv))))
    tracer.span("cut.normalize")(noop(Normalize.normalize(
      ParseValidate.parse(CsvSource.read(spark, csv)))))
    tracer.span("cut.dedup")(noop(Pipeline.annotate(spark, etlConfig(out("cut")))))
  }

  // ---- etl_stream --------------------------------------------------------

  private var streamLines: Array[(Long, String)] = Array.empty
  private var streamHeader: String = ""

  private def readStreamLines(): Array[(Long, String)] = {
    val all = Files.readAllLines(Paths.get(csv), StandardCharsets.UTF_8).asScala
    streamHeader = all.head
    all.iterator.drop(1).zipWithIndex.map { case (l, i) => (i + 1L, l) }.toArray
  }

  private def columnIndex: Map[String, Int] = {
    val idx = streamHeader.split(",").zipWithIndex
      .map { case (n, i) => n.trim.toLowerCase -> i }.reverse.toMap
    CsvSource.RequiredColumns.map(c => c -> idx(c.toLowerCase)).toMap
  }

  private def streamPlain(k: Int): Unit = streamRun(out(s"stream_$k"), traced = false)

  private def streamTraced(k: Int): Unit = {
    tracer.active = true
    // the stream runs the same parse and normalize code per batch; its
    // layers are cut over the same lines read as one file (a batch-path
    // proxy for the stream's own parse and normalize)
    try {
      tracer.span("streaming.run")(streamRun(out(s"stream_${k}_traced"), traced = true))
      prefixCuts()
    } finally tracer.active = false
  }

  private def streamRun(dir: String, traced: Boolean,
      lines: Array[(Long, String)] = streamLines): Unit = {
    val ss = spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = ss.sqlContext
    import ss.implicits._
    val counters = new StreamingOps.TaxiStreamCounters
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.runTaxiEtlStream(input.toDS().toDF("line_number", "value"),
      etlConfig(dir), columnIndex, s"$dir/seen_keys", counters, s"$dir/ckpt")
    // sized on the whole feed, so the half-feed warm-up is two such batches
    val batch = math.max(1, (streamLines.length + StreamBatches - 1) / StreamBatches)
    val batchSecs = mutable.ArrayBuffer.empty[Double]
    var work = 0.0
    try {
      val t0 = System.nanoTime()
      lines.grouped(batch).foreach { chunk =>
        val tb = System.nanoTime()
        tracer.span("streaming.batch", q.runId.toString) {
          input.addData(chunk.toIndexedSeq)
          q.processAllAvailable()
        }
        batchSecs += secs(tb)
      }
      work = secs(t0)
    } finally q.stop()
    ops += Map("kind" -> "stream", "secs" -> work, "traced" -> traced,
      "batch_s" -> batchSecs.toSeq, "counters" -> statsMap(counters.snapshot),
      "trips" -> s"$dir/trips", "duplicates" -> s"$dir/duplicates",
      "state_bytes" -> du(s"$dir/seen_keys")._1,
      "checkpoint_files" -> (du(s"$dir/ckpt")._2 + du(s"$dir/trips/_commits")._2))
  }

  /** (bytes, files) under a directory. */
  private def du(path: String): (Long, Long) = {
    val f = new File(path)
    if (!f.exists) (0L, 0L)
    else if (f.isFile) (f.length, 1L)
    else f.listFiles.map(c => du(c.getPath)).foldLeft((0L, 0L)) {
      case ((b, n), (b2, n2)) => (b + b2, n + n2)
    }
  }

  // ---- query_mix ---------------------------------------------------------

  /** The seeded closed-loop sequence: round after round, each a seeded
    * permutation of the row set. In a measured round of a traced run each
    * query is paired with its traced copy. */
  private val order = new scala.util.Random(seed)

  private def queryRound(round: Int, paired: Boolean): Unit =
    for (((row, module), i) <- order.shuffle(QueryRows).zipWithIndex) {
      def query(tag: String) =
        ops += call(row, s"$module.$row", out(s"q/${round}_$i$tag"), "query") +
          ("round" -> round)
      if (!paired) query("")
      else pair(i)(query(""), {
        tracer.active = true
        try query("_traced") finally tracer.active = false
      })
    }
}
