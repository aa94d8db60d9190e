package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.operators.{CleanJob, ReportJob}
import graft.streaming.{IngestPipeline, KafkaEosSink, KafkaWire, QualityGate, ReportPipeline, SpanGate}
import graft.streaming.KafkaWire.{EmbeddedBroker, WireProducer}

import Main.{Conf, Result}

/** The three streaming workloads and the harness they share.
  *
  * One run: (1) set the pipeline up from a fresh Spark session;
  * (2) after a prime, preload a fixed backlog in one broker transaction
  * and time each of its triggers (throughput: the median rate); (3) offer events in an open loop at a fixed rate for `--seconds`
  * and time each event from its scheduled creation to the return of
  * the sink call of the micro-batch holding it (latency); (4) check
  * the sink's output against a batch recomputation. */
object Streams {

  val Host = "127.0.0.1"
  val Topic = "in"
  /** Open-loop seconds whose events are not sampled (warm-up). */
  val WarmupS = 2.0

  /** Sink-return time per batch id of a pipeline's primary query. */
  final class SinkClock {
    val done = new ConcurrentHashMap[Long, Long]()
    def mark(id: Long): Unit = done.put(id, System.nanoTime())
  }

  final case class Started(queries: Seq[StreamingQuery], primary: StreamingQuery)

  /** The kafka-wire source with a per-trigger offset cap. */
  def wire(spark: SparkSession, port: Int, topic: String, maxPerTrigger: Long): DataFrame =
    spark.readStream.format("kafka-wire")
      .option("host", Host).option("port", port.toString).option("topic", topic)
      .option("maxOffsetsPerTrigger", maxPerTrigger.toString)
      .load()

  /** One streaming workload. */
  abstract class Spec(val c: Conf) {
    /** Events sent and processed before the timed drain, so the drain
      * measures a warm pipeline. */
    def prime: Int
    /** Events preloaded for the timed drain, and in how many batches. */
    def backlog: Int
    def backlogBatches: Int
    /** Offered events per second in the open loop. */
    def rate: Double
    /** Offsets per trigger: a backlog batch plus, in the last one, the
      * transaction's commit marker, so no trigger carries a marker alone. */
    final def maxPerTrigger: Long = (backlog + backlogBatches) / backlogBatches
    def payload(seq: Long): String
    /** Start the pipeline reading `topic`; mark `clock` at each primary
      * sink return. */
    def start(spark: SparkSession, port: Int, topic: String,
        clock: SinkClock, tracer: Tracer): Started
    /** Check the sink output for events 0 until n: (failed inputs,
      * per-layer metrics of this workload). */
    def verify(spark: SparkSession, broker: EmbeddedBroker, n: Long,
        tracer: Tracer): (Long, Seq[(String, Metric)])
    /** Called before the pipeline is started a second time. */
    def reset(): Unit = ()
    /** Steps of another layer that a traced run of this workload also
      * measures, on a fresh session after its own part: (inputs,
      * failed inputs, per-layer metrics). */
    def routed(spark: SparkSession, tracer: Tracer): (Long, Long, Seq[(String, Metric)]) =
      (0L, 0L, Nil)
  }

  final class Runner(c: Conf, spec: Spec) {
    private val tracer = new Tracer(c.trace)
    private val born = System.nanoTime()
    /** Phase marks on stderr, for reading where a run's time goes. */
    private def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - born) / 1e9}%7.2fs $name")

    private def awaitReady(qs: Seq[StreamingQuery]): Unit = {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (!qs.forall(_.status.message == "Waiting for data to arrive")) {
        qs.foreach(q => q.exception.foreach(e => throw e))
        if (System.nanoTime() > deadline) sys.error("pipeline never became ready")
        Thread.sleep(2)
      }
    }

    /** Block until every query has consumed up to `end`; returns the
      * time at which the last one was seen to get there. */
    private def awaitOffset(qs: Seq[StreamingQuery], end: Long, timeoutS: Int): Long = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      def at(q: StreamingQuery) = Option(q.lastProgress).flatMap(_.sources.headOption)
        .exists(s => ProgressProbe.offset0(s.endOffset) >= end)
      while (!qs.forall(at)) {
        qs.foreach(q => q.exception.foreach(e => throw e))
        if (System.nanoTime() > deadline) sys.error(s"pipeline did not reach offset $end")
        Thread.sleep(1)
      }
      System.nanoTime()
    }

    def run(): Result = {
      val broker = new EmbeddedBroker()
      try run(broker) finally { KafkaEosSink.clearPool(); broker.stop() }
    }

    private def run(broker: EmbeddedBroker): Result = {
      val port = broker.port
      val gen = new WireProducer(Host, port, "perfbench-gen")
      gen.initTransactions()
      val produceMs = mutable.ArrayBuffer[Double]()
      def send(recs: Seq[(String, String)]): Unit = {
        val t0 = System.nanoTime()
        gen.beginTransaction(); gen.sendAll(Topic, recs); gen.commitTransaction()
        produceMs += Stats.ms(System.nanoTime() - t0)
      }

      // (1) set-up: the first session in a fresh JVM, as a user pays it
      val t0 = System.nanoTime()
      val spark = c.spark()
      phase("set-up session")
      val clock = new SinkClock
      val started = spec.start(spark, port, Topic, clock, tracer)
      awaitReady(started.queries)
      val setupS = (System.nanoTime() - t0) / 1e9
      val tasks = new TaskProbe
      spark.sparkContext.addSparkListener(tasks)
      phase("set-up done")

      // (2) prime, then drain a preloaded backlog
      val np = spec.prime
      send((0 until np).map(i => (i.toString, spec.payload(i))))
      val primeEnd = KafkaWire.listOffset(Host, port, Topic, 0, earliest = false)
      awaitOffset(started.queries, primeEnd, 120)
      tasks.reset()
      val n0 = np + spec.backlog
      val tMeasure0 = System.nanoTime()
      send((np until n0).map(i => (i.toString, spec.payload(i))))
      val tDrain0 = System.nanoTime()
      val backlogEnd = KafkaWire.listOffset(Host, port, Topic, 0, earliest = false)
      awaitOffset(started.queries, backlogEnd, 120)
      // sustained drain rate: the median over the backlog's triggers of
      // the rows each committed per second since the previous sink
      // return, so one trigger slowed by JIT warm-up or a burst of host
      // load does not decide the figure
      val drainRate = {
        var prev = tDrain0
        Stats.median(ProgressProbe.dataBatches(started.primary.recentProgress.toSeq)
          .filter(p => ProgressProbe.offset0(p.sources.head.startOffset) >= primeEnd)
          .sortBy(_.batchId).map { p =>
            val t = clock.done.get(p.batchId)
            val r = p.numInputRows / ((t - prev) / 1e9)
            prev = t
            r
          })
      }
      phase("backlog drained")

      // (3) open loop at a fixed rate
      val total = math.max(1, (spec.rate * c.seconds).toInt)
      val tOpen = System.nanoTime() + 20000000L
      val sched = Array.tabulate(total)(i => tOpen + (i * 1e9 / spec.rate).toLong)
      val lateNs = new Array[Long](total)
      val sender = new Thread(() => {
        var i = 0
        while (i < total) {
          val now = System.nanoTime()
          if (sched(i) > now) LockSupport.parkNanos(math.min(sched(i) - now, 1000000L))
          else {
            var j = i
            while (j < total && sched(j) <= now) { lateNs(j) = now - sched(j); j += 1 }
            send((i until j).map(k => ((n0 + k).toString, spec.payload(n0 + k))))
            i = j
          }
        }
      }, "perfbench-open-loop")
      sender.start()
      sender.join()
      val end = KafkaWire.listOffset(Host, port, Topic, 0, earliest = false)
      awaitOffset(started.queries, end, 120)
      val wallNs = System.nanoTime() - tMeasure0
      started.queries.foreach(_.stop())
      gen.close()
      phase("open loop done")
      val progress: Seq[StreamingQueryProgress] = started.primary.recentProgress.toSeq

      // latency: offset -> event seq -> scheduled time; offset -> batch -> sink return
      val nAll = n0.toLong + total
      val records = KafkaWire.fetchCommittedRange(Host, port, Topic, 0, 0L, end)
      val batches = ProgressProbe.dataBatches(progress).map { p =>
        val s = p.sources.head
        (ProgressProbe.offset0(s.startOffset), ProgressProbe.offset0(s.endOffset), p.batchId)
      }.sortBy(_._1).toArray
      val starts = batches.map(_._1)
      val sampleFrom = tOpen + (math.min(WarmupS, c.seconds / 4.0) * 1e9).toLong
      val lat = mutable.ArrayBuffer[Double]()
      var unmatched = 0L
      for ((off, key, _) <- records) {
        val seq = key.toLong
        if (seq >= n0 && sched((seq - n0).toInt) >= sampleFrom) {
          val i0 = java.util.Arrays.binarySearch(starts, off)
          val i = if (i0 >= 0) i0 else -i0 - 2
          val done = if (i >= 0 && off < batches(i)._2) Option(clock.done.get(batches(i)._3)) else None
          done match {
            case Some(t) => lat += Stats.ms(t - sched((seq - n0).toInt))
            case None => unmatched += 1
          }
        }
      }
      if (records.size != nAll) sys.error(s"broker holds ${records.size} events, expected $nAll")
      if (lat.isEmpty) sys.error("no latency samples")

      // (4) verification
      // read before verification, whose batch recomputation allocates too
      val heapPeakMb = Rss.heapPeakMb
      val (failed, layer) = spec.verify(spark, broker, nAll, tracer)
      val failedAll = failed + unmatched
      phase("verified")

      val result =
        if (!c.trace) Seq(
          "throughput_rps" -> Metric(drainRate, "1/s"),
          "latency_p50_ms" -> Metric(Stats.median(lat), "ms"),
          "latency_p99_ms" -> Metric(Stats.pct(lat, 99), "ms"),
          "setup_s" -> Metric(setupS, "s"),
          "peak_rss_mb" -> Metric(Rss.peakMb, "MiB"))
        else {
          val lateMs = lateNs.map(Stats.ms(_))
          val allProgress = started.queries.flatMap(_.recentProgress)
          val serialRate = singleCoreRate(port)
          phase("serial drain done")
          val overhead = OverheadSpans.toSeq.map(tracer.durations(_).sum).sum / Stats.ms(wallNs)
          Seq(
            "gen.late_p99_ms" -> Metric(Stats.pct(lateMs, 99), "ms"),
            "gen.events" -> Metric(nAll.toDouble, "count"),
            "jvm.heap_peak_mb" -> Metric(heapPeakMb, "MiB"),
            "kafkawire.produce_ms_p50" -> Metric(Stats.median(produceMs), "ms"),
            "kafkawire.retries" -> Metric((broker.dedupedProduces + broker.crcRejected +
              broker.fencedRejections).toDouble, "count"),
            "exec.parallel_efficiency" -> Metric(drainRate / serialRate / c.cores, "ratio"),
            "trace.overhead_ratio" -> Metric(overhead, "ratio")) ++
            ProgressProbe.source(progress) ++ ProgressProbe.pipeline(progress) ++
            ProgressProbe.state(allProgress.filter(_.stateOperators.nonEmpty)) ++
            tasks.metrics(wallNs, c.cores) ++ layer
        }
      // layers of the workloads that are run by name only, measured here
      val (routedN, routedFailed, routed) =
        if (!c.trace) (0L, 0L, Nil)
        else {
          SparkSession.getActiveSession.foreach(_.stop())
          val r = spec.routed(c.spark(), tracer)
          phase("routed steps done")
          r
        }
      if (c.trace)
        tracer.writeJson(java.nio.file.Paths.get(c.out, s"trace-${c.workload}-${c.seed}.json"))
      Result(nAll + routedN, failedAll + routedFailed, result ++ routed)
    }

    /** Events per second of one backlog-sized trigger drained on a
      * single-core session, after the same prime: the serial baseline
      * for `exec.parallel_efficiency` (traced runs only). One trigger,
      * not the whole backlog, keeps the traced run short. */
    private def singleCoreRate(port: Int): Double = {
      SparkSession.getActiveSession.foreach(_.stop())
      KafkaEosSink.clearPool()
      spec.reset()
      val spark = c.spark(cores = 1)
      val topic = "serial"
      val st = spec.start(spark, port, topic, new SinkClock, new Tracer(false))
      awaitReady(st.queries)
      val p = new WireProducer(Host, port, "perfbench-serial")
      p.initTransactions()
      def send(from: Int, until: Int): (Long, Long) = {
        p.beginTransaction()
        p.sendAll(topic, (from until until).map(i => (i.toString, spec.payload(i))))
        p.commitTransaction()
        (System.nanoTime(), KafkaWire.listOffset(Host, port, topic, 0, earliest = false))
      }
      awaitOffset(st.queries, send(0, spec.prime)._2, 150)
      val n = spec.backlog / spec.backlogBatches
      val (t0, end) = send(spec.prime, spec.prime + n)
      val t1 = awaitOffset(st.queries, end, 150)
      p.close()
      st.queries.foreach(_.stop())
      n / ((t1 - t0) / 1e9)
    }
  }

  /** Gate steps in a traced report_stream run: enough batches for two
    * index collapses. */
  val GateBatches = 8
  val GateBatchDocs = 50

  /** Work a traced run adds on top of the pipeline's own: batch
    * materialization and the ingest gates' side probes. */
  val OverheadSpans = Set("trace.materialize", "gate.score", "gate.novelty")

  /** Per-layer timings of the calls a traced foreachBatch makes. */
  private def p50(t: Tracer, name: String) = Stats.median(t.durations(name))
  private def p99(t: Tracer, name: String) = Stats.pct(t.durations(name), 99)

  /** Materialize a batch frame before the sink call so operator time
    * and sink time separate (traced runs only; counted as overhead). */
  private def materialize(t: Tracer, id: Long, df: DataFrame): DataFrame =
    t.span("trace.materialize", id)(df.localCheckpoint(true))

  // ------------------------------------------------------------------
  // report_stream: DataReport with the durable upsert sink + late router

  final class ReportSpec(c0: Conf) extends Spec(c0) {
    val prime: Int = if (c.tiny) 300 else 3000
    val backlog: Int = if (c.tiny) 1500 else 7500
    val backlogBatches: Int = if (c.tiny) 3 else 5
    val rate: Double = 100
    // beyond-bound events start once the prime and first backlog batch
    // have set both queries' watermarks
    private val gen = new Gen.ReportGen(c.seed, lateFrom = prime + backlog / backlogBatches)
    def payload(seq: Long): String = gen.event(seq).line

    private var sink: ReportPipeline.DurableKeyedUpsertSink = _
    private var table: String = _
    private val lateRows = new AtomicLong(0)
    private val bytesWritten = new AtomicLong(0)
    private val bucketsPerBatch = mutable.ArrayBuffer[Double]()
    override def reset(): Unit = lateRows.set(0)
    override def routed(spark: SparkSession, tracer: Tracer): (Long, Long, Seq[(String, Metric)]) =
      new IngestSpec(c).steps(spark, tracer, GateBatches, GateBatchDocs)

    def start(spark: SparkSession, port: Int, topic: String,
        clock: SinkClock, tracer: Tracer): Started = {
      table = s"${c.work}/upsert-$topic"
      sink = new ReportPipeline.DurableKeyedUpsertSink(table)
      val router = new ReportPipeline.LateRouter(_ => lateRows.incrementAndGet())
      def lines = wire(spark, port, topic, maxPerTrigger).selectExpr("value AS line")
      val ck = s"${c.work}/ckpt-report-$topic"
      val (agg, late) =
        if (!tracer.enabled) (
          ReportPipeline.startAggDurable(lines, s"$ck-agg", sink,
            afterBatch = (_, id) => clock.mark(id)),
          ReportPipeline.startLateRouter(lines, s"$ck-late", router))
        else {
          val s = sink
          val agg = ReportPipeline.aggregate(ReportJob.parse(lines)).writeStream
            .outputMode("update").option("checkpointLocation", s"$ck-agg")
            .trigger(Trigger.ProcessingTime(0))
            .foreachBatch { (df: DataFrame, id: Long) =>
              val m = materialize(tracer, id, df)
              tracer.span("reportjob.agg", id)(m.count())
              tracer.span("upsert.write", id)(s.write(m, id))
              clock.mark(id)
              val (bytes, buckets) = generationBytes(spark, id)
              bytesWritten.addAndGet(bytes)
              if (buckets > 0) bucketsPerBatch.synchronized { bucketsPerBatch += buckets.toDouble }
              ()
            }.start()
          val late = ReportJob.parse(lines).writeStream
            .outputMode("append").option("checkpointLocation", s"$ck-late")
            .trigger(Trigger.ProcessingTime(0))
            .foreachBatch { (df: DataFrame, id: Long) =>
              tracer.span("late.route", id)(router.route(df, id))
            }.start()
          (agg, late)
        }
      Started(Seq(agg, late), agg)
    }

    /** Bytes of generation `g` (bucket dirs + manifest) and its bucket
      * count, from a listing of the upsert table. */
    private def generationBytes(spark: SparkSession, g: Long): (Long, Int) = {
      import org.apache.hadoop.fs.Path
      val root = new Path(table)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val manifest = new Path(root, s"_manifests/gen-$g")
      val mBytes = if (fs.exists(manifest)) fs.getFileStatus(manifest).getLen else 0L
      val data = new Path(root, "data")
      val gens = if (!fs.exists(data)) Array.empty[Path]
        else fs.listStatus(data).map(b => new Path(b.getPath, s"gen=$g")).filter(fs.exists)
      (mBytes + gens.map(p => fs.getContentSummary(p).getLength).sum, gens.length)
    }

    def verify(spark: SparkSession, broker: EmbeddedBroker, n: Long,
        tracer: Tracer): (Long, Seq[(String, Metric)]) = {
      import spark.implicits._
      val events = (0L until n).map(gen.event)
      val expectedLate = events.count(_.beyondBound).toLong
      val expected = ReportJob.windowAgg(ReportJob.parse(
          events.filterNot(_.beyondBound).map(_.line).toDF("line")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          (r.getLong(3), r.getString(4))).toMap
      val snap = sink.snapshot(spark)
      val actual = if (c.dropSinkRow) snap - snap.keys.min else snap
      val wrong = expected.iterator.collect { case (k, v) if !actual.get(k).contains(v) => v._1 }.sum +
        actual.iterator.collect { case (k, v) if !expected.contains(k) => v._1 }.sum
      val failed = wrong + math.abs(lateRows.get - expectedLate)
      (failed, Seq(
        "reportjob.agg_ms_p50" -> Metric(p50(tracer, "reportjob.agg"), "ms"),
        "upsert.write_ms_p50" -> Metric(p50(tracer, "upsert.write"), "ms"),
        "upsert.write_ms_p99" -> Metric(p99(tracer, "upsert.write"), "ms"),
        "upsert.bytes_per_event" -> Metric(bytesWritten.get.toDouble / n, "bytes"),
        "upsert.buckets_per_batch" -> Metric(Stats.median(bucketsPerBatch), "count"),
        "late.route_ms_p50" -> Metric(p50(tracer, "late.route"), "ms"),
        "late.rows" -> Metric(lateRows.get.toDouble, "rows")))
    }
  }

  // ------------------------------------------------------------------
  // clean_stream: DataClean into the transactional partitioned sink

  final class CleanSpec(c0: Conf) extends Spec(c0) {
    val prime: Int = if (c.tiny) 1000 else 12000
    val backlog: Int = if (c.tiny) 3000 else 36000
    val backlogBatches = 6
    val rate: Double = if (c.tiny) 500 else 1000
    val sinkPartitions = 4
    def payload(seq: Long): String = Gen.cleanLine(c.seed, seq)
    private var outTopic = "out"
    override def routed(spark: SparkSession, tracer: Tracer): (Long, Long, Seq[(String, Metric)]) =
      CurationBatch.steps(spark, c, tracer)
    private val txnsPerBatch = mutable.ArrayBuffer[Double]()
    private var rowsOut = 0L

    def start(spark: SparkSession, port: Int, topic: String,
        clock: SinkClock, tracer: Tracer): Started = {
      outTopic = if (topic == Topic) "out" else s"out-$topic"
      val ck = s"${c.work}/ckpt-clean-$topic"
      val ot = outTopic
      val eos = new KafkaEosSink.PartitionedSink(ot, s"progress-$ot", ck, sinkPartitions,
        txId => new WireProducer(Host, port, txId),
        txId => KafkaWire.readLastCommitted(Host, port, s"progress-$ot", txId))
      val q = graft.streaming.CleanPipeline.start(
        wire(spark, port, topic, maxPerTrigger).selectExpr("value AS line"),
        CleanJob.dimTable(spark), ck,
        (df: DataFrame, id: Long) => {
          val in = if (tracer.enabled) materialize(tracer, id, df) else df
          if (tracer.enabled) tracer.span("cleanjob.enrich", id)(in.count())
          val kv = in.select(col("countryCode").as("key"),
            concat_ws("|", col("dt"), col("countryCode"), col("type"),
              col("score").cast("string"), col("level"), col("area")).as("value"))
          tracer.span("eos.write", id)(eos.write(kv, id))
          clock.mark(id)
        })
      Started(Seq(q), q)
    }

    def verify(spark: SparkSession, broker: EmbeddedBroker, n: Long,
        tracer: Tracer): (Long, Seq[(String, Metric)]) = {
      import spark.implicits._
      val expected = CleanJob.enrich((0L until n).map(payload).toDF("line"), CleanJob.dimTable(spark))
        .select(concat_ws("|", col("dt"), col("countryCode"), col("type"),
          col("score").cast("string"), col("level"), col("area")))
        .collect().map(_.getString(0))
      val out = broker.committed(outTopic).map(_._2)
      val actual = if (c.dropSinkRow) out.drop(1) else out
      def bySeq(rows: Iterable[String]) =
        rows.groupBy(r => r.split("\\|")(3).toDouble.toLong).view.mapValues(_.toSeq.sorted).toMap
      val (e, a) = (bySeq(expected), bySeq(actual))
      val failed = (0L until n).count { s =>
        val ev = e.getOrElse(s, Nil)
        ev.size != 2 || a.getOrElse(s, Nil) != ev
      }.toLong + a.keys.count(s => s < 0 || s >= n)
      // one marker per writer partition per data batch
      val markers = broker.committed(s"progress-$outTopic").size
      val batches = tracer.durations("eos.write").size
      (failed, Seq(
        "cleanjob.enrich_ms_p50" -> Metric(p50(tracer, "cleanjob.enrich"), "ms"),
        "cleanjob.fanout" -> Metric(out.size.toDouble / n, "rows/event"),
        "eos.write_ms_p50" -> Metric(p50(tracer, "eos.write"), "ms"),
        "eos.write_ms_p99" -> Metric(p99(tracer, "eos.write"), "ms"),
        "eos.txns_per_batch" -> Metric(if (batches == 0) 0.0 else markers.toDouble / batches, "count"),
        "eos.rows_out" -> Metric(out.size.toDouble, "rows")))
    }
  }

  // ------------------------------------------------------------------
  // ingest_stream: quality gate -> span-novelty gate -> absorb

  final class IngestSpec(c0: Conf) extends Spec(c0) {
    val prime = 20
    val backlog: Int = if (c.tiny) 60 else 200
    val backlogBatches = 2
    val rate: Double = 10
    /** Absorbs between index collapses (and disk compactions). */
    val collapseEvery = 4
    private val gen = new Gen.IngestGen(c.seed, corpusN = if (c.tiny) 400 else 600)
    def payload(seq: Long): String = gen.doc(seq).json

    val docSchema: StructType = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    private def docsDf(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
      import spark.implicits._
      docs.map(d => (d.id, d.text, "en", "bench", d.text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    }

    private var state: IngestPipeline.IngestState = _
    /** Verdict rows the sink received, per batch id. */
    private val verdicts = new ConcurrentHashMap[Long, Array[(Long, Long, Long, Long)]]()
    private var lmTrainS = 0.0
    private var spanIndexS = 0.0
    override def reset(): Unit = verdicts.clear()

    /** Build the gate state on the corpus and return the per-batch
      * function the stream's foreachBatch runs. */
    def prepare(spark: SparkSession, clock: SinkClock, tracer: Tracer): (DataFrame, Long) => Unit = {
      val corpus = docsDf(spark, gen.corpus)
      val st = new IngestPipeline.IngestState(corpus, None, collapseEvery)
      state = st
      // the traced run times the two gate-state builds on their own
      val lm = if (tracer.enabled) {
        val t0 = System.nanoTime()
        val m = QualityGate.trainLm(corpus)
        lmTrainS = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        SpanGate.indexSpans(corpus).hs.count()
        spanIndexS = (System.nanoTime() - t1) / 1e9
        Some(m)
      } else None
      val sinkFn = (v: DataFrame, id: Long) => {
        val rows = v.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        verdicts.put(id, rows)
        clock.mark(id)
      }
      (df: DataFrame, id: Long) => {
        lm.foreach { m =>
          // side probes on the batch, timed apart from the pipeline
          val b = materialize(tracer, id, df)
          tracer.span("gate.score", id)(QualityGate.score(b, m).count())
          tracer.span("gate.novelty", id)(SpanGate.novelty(b, st.spanIndex).count())
        }
        tracer.span("gate.process", id) {
          st.process(df, id, (v, bid) => tracer.span("ingest.sink", bid)(sinkFn(v, bid)))
        }
        ()
      }
    }

    def start(spark: SparkSession, port: Int, topic: String,
        clock: SinkClock, tracer: Tracer): Started = {
      val batch = prepare(spark, clock, tracer)
      val q = wire(spark, port, topic, maxPerTrigger)
        .select(from_json(col("value"), docSchema).as("d")).select("d.*")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"${c.work}/ckpt-ingest-$topic")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch(batch)
        .start()
      Started(Seq(q), q)
    }

    /** The gate steps without the stream: `batches` batches of
      * `batchDocs` stream docs through the same per-batch function,
      * then the same verification. A traced run of a listed workload
      * calls this so the gate layer is measured there too. */
    def steps(spark: SparkSession, tracer: Tracer, batches: Int,
        batchDocs: Int): (Long, Long, Seq[(String, Metric)]) = {
      val batch = prepare(spark, new SinkClock, tracer)
      for (b <- 0 until batches)
        batch(docsDf(spark, (b * batchDocs until (b + 1) * batchDocs).map(i => gen.doc(i.toLong)))
          .localCheckpoint(true), b.toLong)
      val n = batches.toLong * batchDocs
      val (failed, metrics) = verify(spark, null, n, tracer)
      (n, failed, metrics)
    }

    def verify(spark: SparkSession, broker: EmbeddedBroker, n: Long,
        tracer: Tracer): (Long, Seq[(String, Metric)]) = {
      val docs = gen.corpus ++ (0L until n).map(gen.doc)
      val byId = docs.map(d => d.id -> d).toMap
      // replay the batches, in order, through the batch verdict function
      val corpus = docsDf(spark, gen.corpus)
      val lm = QualityGate.trainLm(corpus)
      var spans = SpanGate.indexSpans(corpus)
      var failed = 0L
      val seen = mutable.Set[Long]()
      val ids = verdicts.keySet.asScala.toSeq.sorted
      val dropFrom = if (c.dropSinkRow) ids.find(verdicts.get(_).nonEmpty) else None
      for (id <- ids) {
        val got0 = verdicts.get(id)
        val got = if (dropFrom.contains(id)) got0.drop(1) else got0
        val batch = docsDf(spark, got0.map(r => byId(r._1)).toSeq).localCheckpoint(true)
        val want = IngestPipeline.verdicts(batch, lm, spans).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        val gotM = got.map(r => r._1 -> r).toMap
        failed += want.count(w => !gotM.get(w._1).contains(w))
        failed += got.count(g => seen.contains(g._1))
        seen ++= got.map(_._1)
        val admitted = want.filter(_._4 == 1L).map(r => byId(r._1)).toSeq
        spans = spans.absorb(docsDf(spark, admitted)).collapsed
      }
      failed += (docs.size - gen.corpusN) - seen.size
      // each admitted doc absorbed exactly once: the pipeline's index
      // holds no duplicate hash and the same hash set as the replayed one
      val live = state.spanIndex.content.select(col("h"))
      val liveN = live.count()
      val replayed = spans.content.select(col("h"))
      failed += live.exceptAll(replayed).count() + replayed.exceptAll(live).count()
      val all = verdicts.values.asScala.flatten
      val admitRatio = if (all.isEmpty) 0.0 else all.count(_._4 == 1L).toDouble / all.size
      // absorb (+ collapse) time = process time after the sink returned
      val after = tracer.all.filter(_.name == "gate.process").map { p =>
        val sinkEnd = tracer.all.find(s => s.name == "ingest.sink" && s.group == p.group)
          .map(_.endNs).getOrElse(p.endNs)
        (p.group, Stats.ms(p.endNs - sinkEnd))
      }
      val collapses = after.filter { case (g, _) => (ids.indexOf(g) + 1) % collapseEvery == 0 }
      (failed, Seq(
        "gate.lm_train_s" -> Metric(lmTrainS, "s"),
        "gate.span_index_s" -> Metric(spanIndexS, "s"),
        "gate.process_ms_p50" -> Metric(p50(tracer, "gate.process"), "ms"),
        "gate.process_ms_p99" -> Metric(p99(tracer, "gate.process"), "ms"),
        "gate.score_ms_p50" -> Metric(p50(tracer, "gate.score"), "ms"),
        "gate.novelty_ms_p50" -> Metric(p50(tracer, "gate.novelty"), "ms"),
        "gate.absorb_ms_p50" -> Metric(Stats.median(after.map(_._2)), "ms"),
        "gate.collapse_ms_max" -> Metric(if (collapses.isEmpty) 0.0 else collapses.map(_._2).max, "ms"),
        "gate.admit_ratio" -> Metric(admitRatio, "ratio"),
        "gate.index_rows_end" -> Metric(liveN.toDouble, "rows")))
    }
  }
}
