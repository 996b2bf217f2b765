package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{GraftBenchBus, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters by name, each in the unit its name says (`_s` seconds,
  * `_bytes` bytes, else a count); a name never counted reads 0. */
final class Counters {
  val values: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(name: String, d: Double): Unit = values(name) += d

  private def zip(o: Counters, f: (Double, Double) => Double): Counters = {
    val r = new Counters
    (values.keySet ++ o.values.keySet).foreach(k => r.values(k) = f(values(k), o.values(k)))
    r
  }
  def +(o: Counters): Counters = zip(o, _ + _)
  def -(o: Counters): Counters = zip(o, _ - _)

  def toJson: Map[String, Double] = values.toMap
}

/** Listener the benchmark registers on the session from outside the
  * program. Task, shuffle, spill and GC numbers are attributed by the
  * job group of the job that ran them; Catalyst phase times by the span
  * that was open when the query ran (calls are sequential and the bus is
  * drained at every span boundary, so the attribution is exact). RDD
  * block updates give the storage memory in use and its peak. */
final class Collector extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockMem = 0L
  private var peakMem = 0L
  @volatile var currentGroup: String = ""

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private def c(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  def counters(g: String): Counters = synchronized(new Counters + c(g))
  def total: Counters = synchronized(byGroup.values.foldLeft(new Counters)(_ + _))
  def peakStorageBytes: Long = synchronized(peakMem)
  /** Forget counters and restart the storage peak from what is in use. */
  def reset(): Unit = synchronized { byGroup.clear(); peakMem = blockMem }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties).getOrElse("")
    c(g).add("jobs", 1)
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val g = group(e.properties).getOrElse(stageGroup.getOrElse(id, ""))
    stageGroup(id) = g
    stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    c(g).add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stageGroup.getOrElse(e.stageId, ""))
    k.add("tasks", 1)
    if (!e.taskInfo.successful) k.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      k.add("task_run_s", m.executorRunTime / 1e3)
      k.add("task_cpu_s", m.executorCpuTime / 1e9)
      k.add("task_gc_s", m.jvmGCTime / 1e3)
      k.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      k.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      k.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      k.add("bytes_written", m.outputMetrics.bytesWritten.toDouble)
    }
    stageSubmit.get(e.stageId).foreach(s =>
      k.add("task_wait_s", math.max(0L, e.taskInfo.launchTime - s) / 1e3))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val now = if (i.storageLevel.isValid) i.memSize else 0L
      blockMem += now - blocks.getOrElse(i.blockId.name, 0L)
      if (now > 0) blocks(i.blockId.name) = now else blocks.remove(i.blockId.name)
      peakMem = math.max(peakMem, blockMem)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val k = c(currentGroup)
    k.add("queries", 1)
    val p = qe.tracker.phases
    for (n <- Seq("analysis", "optimization", "planning"))
      k.add(s"${n}_s", p.get(n).map(_.durationMs).getOrElse(0L) / 1e3)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
}

/** Process-wide JVM and code-generation counters, read at span
  * boundaries. Whole-stage codegen compiles in this JVM (local mode), on
  * the calling thread or a task thread of the span. */
object JvmCounters {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val compileTime = CodegenMetrics.METRIC_COMPILATION_TIME
  private val classSize = CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE
  /** Samples the compile-time histogram's reservoir keeps before it
    * starts to sample. */
  private val Reservoir = 1028

  def snapshot(): Counters = {
    val c = new Counters
    c.add("jvm_gc_s", gcBeans.map(_.getCollectionTime).sum / 1e3)
    c.add("codegen_compiles", compileTime.getCount.toDouble)
    // exact while the reservoir holds every compile; past that, the
    // compile count times the reservoir's mean
    val snap = compileTime.getSnapshot
    c.add("codegen_compile_s",
      (if (compileTime.getCount <= Reservoir) snap.getValues.sum.toDouble
       else compileTime.getCount * snap.getMean) / 1e3)
    c.add("codegen_classes", classSize.getCount.toDouble)
    c
  }
}

/** Samples the total heap in use every few milliseconds and keeps the
  * largest total seen (pool peaks are not simultaneous, so their sum is
  * not a peak). */
final class HeapSampler extends Thread("graftbench-heap") {
  setDaemon(true)
  private val memory = ManagementFactory.getMemoryMXBean
  @volatile private var running = true
  @volatile var peakBytes = 0L

  override def run(): Unit =
    while (running) {
      peakBytes = math.max(peakBytes, memory.getHeapMemoryUsage.getUsed)
      Thread.sleep(5)
    }

  def finish(): Double = { running = false; join(); peakBytes / 1048576.0 }
}

final case class Span(id: Int, name: String, parent: Int, group: String,
    startNs: Long, var endNs: Long = 0L, var counters: Counters = new Counters,
    var jvm: Counters = new Counters)

/** In-memory spans around public calls, written out at the end. While
  * inactive (untraced operations), `span` only runs its body. While
  * active, each span gets its own job group (or the group a caller
  * names, e.g. a streaming query's run id, whose jobs run on the query's
  * own thread), and the listener bus is drained on entry and exit, so
  * the span's engine counters (the change in its group's counters) are
  * complete. A span's `jvm` counters are the process-wide change over
  * it, so they are read from root spans only. */
final class Tracer(collector: Collector) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  var spark: SparkSession = _
  var active = false
  val originNs: Long = System.nanoTime()

  private def enter(sc: SparkContext, s: Option[Span]): Unit = s match {
    case Some(p) =>
      if (p.group.startsWith("graftbench-")) sc.setJobGroup(p.group, p.name)
      collector.currentGroup = p.group
    case None => sc.clearJobGroup(); collector.currentGroup = ""
  }

  def span[T](name: String, group: String = null)(body: => T): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      GraftBenchBus.drain(sc)
      val g = Option(group).getOrElse(s"graftbench-${spans.size}")
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), g,
        System.nanoTime())
      val before = collector.counters(g)
      val jvmBefore = JvmCounters.snapshot()
      spans += s
      stack = s :: stack
      enter(sc, Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.jvm = JvmCounters.snapshot() - jvmBefore
        GraftBenchBus.drain(sc)
        s.counters = collector.counters(g) - before
        stack = stack.tail
        enter(sc, stack.headOption)
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "group" -> s.group,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9,
      "counters" -> s.counters.toJson, "jvm" -> s.jvm.toJson)
  }
}
