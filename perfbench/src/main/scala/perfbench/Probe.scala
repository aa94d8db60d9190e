package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Order statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile, q in [0, 100]. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) 0.0
    else v(math.min(v.length - 1, math.max(0, math.ceil(q / 100.0 * v.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
  def ms(nanos: Long): Double = nanos / 1e6
}

/** One metric value as the result line prints it. */
final case class Metric(value: Double, unit: String)

/** In-memory span recorder for the traced run. A span is one timed
  * call the benchmark makes into a layer's public entry point, grouped
  * by `group` (one micro-batch or one curation pass). Spans are kept in
  * memory and written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, group: Long, parent: Int,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Time `f` as a span; always runs `f`, records only when enabled. */
  def span[T](name: String, group: Long)(f: => T): T = {
    if (!enabled) return f
    val id = ids.incrementAndGet()
    val parent = stack.get().headOption.getOrElse(0)
    stack.set(id :: stack.get())
    val t0 = System.nanoTime()
    try f
    finally {
      spans.add(Span(id, name, group, parent, t0, System.nanoTime()))
      stack.set(stack.get().tail)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations (ms) of every span with this name. */
  def durations(name: String): Seq[Double] =
    all.filter(_.name == name).map(s => Stats.ms(s.durNs))

  /** Self time (ms) per span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfMs: Map[Int, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      for ((a, b) <- kids) {
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> Stats.ms(s.durNs - covered)
    }.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val t0 = if (all.isEmpty) 0L else all.map(_.startNs).min
    val body = all.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","group":${s.group},"parent":${s.parent},""" +
        f""""start_ms":${Stats.ms(s.startNs - t0)}%.3f,"end_ms":${Stats.ms(s.endNs - t0)}%.3f,""" +
        f""""self_ms":${self(s.id)}%.3f}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, body)
  }
}

/** Task-level executor and shuffle counters from Spark's public
  * listener bus. `reset` zeroes the window so a run measures only its
  * own phase. */
final class TaskProbe extends SparkListener {
  private val lock = new Object
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer[Double]()
  private val stageReads = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  var worstSkew = 1.0

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      tasks += 1
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val r = m.shuffleReadMetrics.totalBytesRead
      shuffleRead += r
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      taskMs += m.executorRunTime.toDouble
      if (r > 0) stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += r
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stageReads.remove(e.stageInfo.stageId).foreach { rs =>
      if (rs.size >= 2) {
        val med = Stats.median(rs.map(_.toDouble))
        if (med > 0) worstSkew = math.max(worstSkew, rs.max / med)
      }
    }
  }

  def reset(): Unit = lock.synchronized {
    tasks = 0; cpuNs = 0; gcMs = 0; shuffleWrite = 0; shuffleRead = 0
    spill = 0; taskMs.clear(); stageReads.clear(); worstSkew = 1.0
  }

  /** Executor / shuffle metrics over a wall-clock window on `cores`. */
  def metrics(wallNs: Long, cores: Int): Seq[(String, Metric)] = lock.synchronized {
    val cpuUtil = if (wallNs <= 0) 0.0 else cpuNs.toDouble / (wallNs.toDouble * cores)
    Seq(
      "exec.cpu_util" -> Metric(cpuUtil, "ratio"),
      "exec.tasks" -> Metric(tasks.toDouble, "count"),
      "exec.task_ms_p50" -> Metric(Stats.median(taskMs), "ms"),
      "exec.gc_ms" -> Metric(gcMs.toDouble, "ms"),
      "shuffle.write_bytes" -> Metric(shuffleWrite.toDouble, "bytes"),
      "shuffle.read_bytes" -> Metric(shuffleRead.toDouble, "bytes"),
      "shuffle.skew" -> Metric(worstSkew, "ratio"),
      "spill.bytes" -> Metric(spill.toDouble, "bytes"))
  }
}

/** Per-layer numbers read off a streaming query's public progress
  * reports (one per micro-batch). */
object ProgressProbe {
  /** Partition-0 offset out of a kafka-wire offset JSON (`{"0":12}`). */
  def offset0(json: String): Long =
    if (json == null || json == "null") 0L
    else "\"0\":(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)

  def dataBatches(ps: Seq[StreamingQueryProgress]): Seq[StreamingQueryProgress] =
    ps.filter(_.numInputRows > 0)

  def durMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def pipeline(ps: Seq[StreamingQueryProgress]): Seq[(String, Metric)] = {
    val d = dataBatches(ps)
    Seq(
      "pipeline.batches" -> Metric(d.size.toDouble, "count"),
      "pipeline.trigger_ms_p50" -> Metric(Stats.median(d.map(durMs(_, "triggerExecution"))), "ms"),
      "pipeline.trigger_ms_p99" -> Metric(Stats.pct(d.map(durMs(_, "triggerExecution")), 99), "ms"),
      "pipeline.planning_ms_p50" -> Metric(Stats.median(d.map(durMs(_, "queryPlanning"))), "ms"),
      "pipeline.wal_ms_p50" -> Metric(Stats.median(d.map(durMs(_, "walCommit"))), "ms"),
      "pipeline.rows_per_batch_p50" -> Metric(Stats.median(d.map(_.numInputRows.toDouble)), "rows"))
  }

  def source(ps: Seq[StreamingQueryProgress]): Seq[(String, Metric)] = {
    val d = dataBatches(ps)
    Seq(
      "source.rows_in" -> Metric(d.map(_.numInputRows.toDouble).sum, "rows"),
      "source.latest_offset_ms_p50" -> Metric(Stats.median(d.map(durMs(_, "latestOffset"))), "ms"))
  }

  def state(ps: Seq[StreamingQueryProgress]): Seq[(String, Metric)] = {
    val ops = ps.flatMap(_.stateOperators.headOption)
    val d = dataBatches(ps).flatMap(_.stateOperators.headOption)
    Seq(
      "state.rows_total" -> Metric(ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows"),
      "state.memory_bytes_max" -> Metric(if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes.toDouble).max, "bytes"),
      "state.commit_ms_p50" -> Metric(Stats.median(d.map(_.commitTimeMs.toDouble)), "ms"),
      "state.dropped_by_watermark" -> Metric(ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "rows"))
  }
}

/** Process memory, as the kernel and the JVM account it. */
object Rss {
  /** Sum of the peak usage of the JVM's heap pools, in MiB: what the
    * program kept on the heap (in-heap state included), whatever the
    * collector later returned to the system. */
  def heapPeakMb: Double = {
    import java.lang.management.{ManagementFactory, MemoryType}
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  /** VmHWM (peak resident set) of this JVM, in MiB. */
  def peakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
